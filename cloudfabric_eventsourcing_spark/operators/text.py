"""Text analysis operators: tokenization, language id, quality scoring,
token counting, document fingerprinting.

All pure `pyspark.sql.functions` expressions — no UDFs, fully codegen'd,
pushdown-friendly. Each returns a DataFrame transform so operators compose:

    docs.transform(with_tokens).transform(with_quality_score)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# minimal per-language stopword lists for the n-gram/stopword language-id
# heuristic (public common-word lists, truncated)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "dans", "que", "sur"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/punct segmentation: word runs, digit runs, or single
# punctuation marks (a public GPT-2-style pre-tokenizer shape)
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_column(col: Column, lowercase: bool = True) -> Column:
    c = F.lower(col) if lowercase else col
    return F.filter(F.split(c, TOKEN_SPLIT_RE), lambda x: x != "")


def with_tokens(df: DataFrame, text_col: str = "text", out: str = "tokens") -> DataFrame:
    return df.withColumn(out, tokens_column(F.col(text_col)))


def token_count_whitespace(col: Column) -> Column:
    return F.size(tokens_column(col, lowercase=False))


def token_count_bpe_ish(col: Column) -> Column:
    """Count of BPE-style pre-tokens (word / number / punctuation runs)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_RE), 0))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "n_tokens_ws", token_count_whitespace(F.col(text_col))
    ).withColumn("n_tokens_bpe", token_count_bpe_ish(F.col(text_col)))


def language_scores(tokens: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio over the token array."""
    total = F.greatest(F.size(tokens), F.lit(1))
    return {
        lang: (
            F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))
            / total
        ).alias(f"score_{lang}")
        for lang, words in STOPWORDS.items()
    }


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predicted language = argmax of stopword-overlap scores; 'und'
    (undetermined) when no stopword hits at all."""
    toks = tokens_column(F.col(text_col))
    scores = language_scores(toks)
    df = df.withColumn("__toks", toks)
    for lang, col in language_scores(F.col("__toks")).items():
        df = df.withColumn(f"score_{lang}", col)
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best <= F.lit(0.0), F.lit("und"))
    for l in langs:  # first max wins, deterministic order
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return df.withColumn("lang_pred", pred).drop("__toks")


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length band + alpha ratio +
    punctuation penalty + mean-word-length band.

    Computed ENTIRELY in integer ten-thousandths (design rule 5: exact
    arithmetic for engine-independent results).  The earlier float form
    `round(weighted_sum, 4)` hit round-half ties: the weighted double
    sum lands exactly on .00005 boundaries for some (alpha, length)
    pairs and Spark/DuckDB resolve the tie differently — invisible at
    sf0.01, 57 of 50k docs at sf1 (found by tools/verify_at_scale.py).
    All band conditions are integer comparisons (P/N > 0.1 ⇔ 10P > N;
    3 ≤ L/T ≤ 10 ⇔ 3T ≤ L ≤ 10T) and the only rational term,
    0.3·L/N, is rounded half-up as (6000L+N) div (2N) — exact: its
    distance from any integer is 0 or ≥ 1/(2N), far above double error,
    so floor over the double quotient cannot misround."""
    # long arithmetic throughout: F.length returns a 32-bit int and the
    # scaled terms below (6000*n_alpha) wrap past ~357k alphabetic chars
    # under non-ANSI int multiplication — a realistic document size; the
    # DuckDB oracle computes the same terms in BIGINT
    n_chars = F.length(text).cast("long")
    n = F.greatest(n_chars, F.lit(1).cast("long"))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("long")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("long")
    t = F.greatest(
        F.size(tokens_column(text, lowercase=False)), F.lit(1)
    ).cast("long")
    s4 = F.when(n_chars < 20, 2000).when(n_chars < 100, 7000).otherwise(10000)
    p4 = F.when(10 * n_punct > n, 5000).otherwise(10000)
    w4 = F.when(
        (n_alpha >= 3 * t) & (n_alpha <= 10 * t), 10000
    ).otherwise(6000)
    alpha4 = F.floor((6000 * n_alpha + n) / (2 * n)).cast("long")
    q4 = (3 * s4 + 2 * p4 + 2 * w4) / 10 + alpha4
    return (q4 / 10000).cast("double")


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("quality", quality_score(F.col(text_col)))


def repetition_stats(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated n-gram statistics — the standard degenerate-text signal
    for corpus filtering (boilerplate, templated spam, decoding loops
    repeat n-grams; natural prose rarely does). Returns per document:
    `n_grams` (total n-grams), `n_distinct`, and `repetition_ratio` =
    1 - n_distinct/n_grams (0.0 for texts shorter than n tokens).

    Pure Column expressions over one pruned scan — no UDFs, no shuffle,
    embarrassingly parallel at any scale. Form matters enormously here:
    the obvious `transform(sequence(1, m), i -> slice(tokens, i, n))`
    re-evaluates the tokenization expression per index (the nested-HOF
    re-evaluation hazard PLANS.md documents for minhash), going
    O(tokens^2) per document — 11.3 s for sf0.1. This linear form zips
    n shifted slices (tokens evaluated n times total, not m times) and
    distincts xxhash64 gram hashes instead of concatenated strings
    (2.6x cheaper array_distinct); measured 1.2 s on the same corpus.
    Distinct-hash counts equal distinct-gram counts absent a 64-bit
    collision (~2^-64 per in-document gram pair — the same trade the
    dedup family makes), so the exact-integer oracle comparison stands.
    The n_grams total needs no gram array at all: it is
    max(size(tokens) - n + 1, 0) by arithmetic."""
    toks = tokens_column(F.col(text_col))
    m = F.size(toks)
    span = m - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, span) for i in range(n)])
    grams = F.when(
        span > 0,
        F.transform(zipped, lambda s: F.xxhash64(*[s[str(i)] for i in range(n)])),
    )
    total = F.greatest(span, F.lit(0))
    distinct = F.coalesce(F.size(F.array_distinct(grams)), F.lit(0))
    return df.select(
        F.col(id_col),
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        F.when(total > 0, 1 - distinct / total)
        .otherwise(F.lit(0.0))
        .alias("repetition_ratio"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "clean",
) -> DataFrame:
    """Corpus-level line deduplication (the CCNet/RefinedWeb boilerplate
    pass): any line occurring in >= min_docs DISTINCT documents is
    boilerplate — nav menus, cookie banners, license footers — and is
    removed from every document; remaining lines keep their order.

    Plan shape for 100 TB: posexplode lines (linear, no shuffle) ->
    one hash-partitioned count-distinct per line (partial aggregation
    map-side) -> the frequent set is tiny by construction (a line must
    repeat across >= min_docs docs to qualify), so it broadcasts into a
    left_anti join -> one regroup shuffle by document reassembles text
    via sort_array over (pos, line) structs. Two shuffles total, no
    Python, no driver collect; a document reduced to nothing survives
    as an empty string via the final left join + coalesce."""
    lines = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    )
    frequent = (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("line")
    )
    kept = lines.join(F.broadcast(frequent), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(out)
    )
    return df.join(rebuilt, id_col, "left").withColumn(
        out, F.coalesce(F.col(out), F.lit(""))
    )


def dedup_lines_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
    out: str = "clean",
) -> DataFrame:
    """Corpus-level EXACT line dedup keeping the FIRST occurrence
    (C4's "discard all but one of any three-sentence span" at line
    granularity; RefinedWeb's exact line dedup): a line appearing in
    many documents survives only at its earliest (id, position); every
    later copy is dropped. Complements remove_boilerplate_lines, which
    removes frequent lines EVERYWHERE — keep-first preserves one copy,
    the right semantics when the duplicated line is content, not chrome.

    Lines whose TRIMMED length is < min_len (blank lines, lone
    punctuation) are exempt and always kept: they carry document
    structure, and deduping the corpus's blank lines to one document
    would be nonsense.

    Plan shape for 100 TB: posexplode (linear) -> ONE hash shuffle on
    the line text for a row_number window ordered by (id, pos) -> keep
    rank 1 -> one regroup by document reassembles order via sort_array.
    The window's per-line groups are as big as a line's corpus-wide
    duplication count, so a mega-duplicated line (a cookie banner in
    10^9 docs) is one straggler partition — at that duplication level
    the line IS boilerplate and remove_boilerplate_lines (whose
    count-aggregate combines map-side) is the right tool first; this
    operator is the precision pass for the moderate-duplication tail.
    Returns (id, n_lines, n_kept, out) — n_lines/n_kept make the
    removal auditable per document.  n_lines is a map-side column on
    the input (size of the split array — no extra shuffle, no count
    over the exploded rows).
    """
    lines = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    )
    eligible = F.length(F.trim(F.col("line"))) >= min_len
    # ineligible rows bypass ranking, and each gets its OWN window
    # partition (keyed by its unique (id, pos), disambiguated from real
    # lines by the eligibility flag column) — a single shared partition
    # would funnel every blank line in the corpus through one sort task
    w = Window.partitionBy(
        eligible,
        F.when(eligible, F.col("line")).otherwise(
            F.concat_ws(":", F.col(id_col), F.col("pos"))
        ),
    ).orderBy(F.col(id_col).asc(), F.col("pos").asc())
    ranked = lines.withColumn(
        "__rn", F.when(eligible, F.row_number().over(w)).otherwise(F.lit(1))
    )
    kept = ranked.where(F.col("__rn") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(out),
    )
    # a document deduped to NOTHING still comes back (empty, 0 kept) —
    # corpus accounting must cover every input row (the r10 m05 advice
    # lesson applied up front)
    return (
        df.select(
            id_col,
            # null-text documents count 0 lines, matching the coalesced
            # n_kept=0 / out="" they get below — size(split(NULL)) would
            # yield NULL (or -1 under legacy sizeOfNull) and break the
            # every-input-row accounting exactly on the rows the
            # coalesce exists to cover (ADVICE r12)
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(F.split(F.col(text_col), "\n")))
            .cast("long")
            .alias("n_lines"),
        )
        .join(rebuilt, id_col, "left")
        .withColumn(out, F.coalesce(F.col(out), F.lit("")))
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
        .select(id_col, "n_lines", "n_kept", out)
    )


def fingerprint_tokens(text: Column) -> Column:
    """Order-insensitive content fingerprint: sorted distinct lowercase
    tokens (the word-set). Two documents with equal fingerprints are
    unigram-jaccard-1.0 duplicates."""
    return F.array_join(F.array_sort(F.array_distinct(tokens_column(text))), " ")


def rolling_hash_fingerprint(text: Column, window: int = 8) -> Column:
    """Winnowing-style fingerprint: min xxhash64 over the document's
    character k-grams (one representative hash; extend to a set for
    locality). Codegen'd: substring sequence -> transform -> min."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - window + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.xxhash64(F.substr(text, i, F.lit(window))))
    return F.array_min(grams)


def with_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "fingerprint", fingerprint_tokens(F.col(text_col))
    ).withColumn("rolling_fp", rolling_hash_fingerprint(F.col(text_col)))


def _winnowing_md5_arrow(
    df: DataFrame, k: int, window: int, text_col: str, id_col: str
) -> DataFrame:
    """mapInArrow winnowing kernel, the one implementation of
    `hash="md5"`: tokens split on the ASCII `\\s` class as the JVM's
    F.split(text, r"\\s+") does, `tok k-gram joined by ' '` gram
    strings, standard MD5 hex, lexicographic window minima,
    first-occurrence distinct — the gram strings and selections
    DuckDB's md5 reproduces, which is what the p16 oracle checks.  One
    batch crosses the boundary as two Arrow columns (id + text) and
    comes back as id + the fingerprint array; hashlib's C MD5 and
    sliced minima avoid the interpreted transform/arrays_zip HOF chain
    that md5 grams need as Column expressions (r11 p16 study: 22-32 s
    per evaluation at sf10)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_schema = StructType(
        [df.schema[id_col], StructField("fingerprints", ArrayType(StringType()))]
    )

    def _batches(it):
        import hashlib
        import re

        import pyarrow as pa

        md5 = hashlib.md5
        # Java's \s (no UNICODE_CHARACTER_CLASS) is the ASCII class
        # [ \t\n\x0B\f\r]; Python's \s is Unicode-aware — spell it out
        # so tokenization is bit-equal with F.split(text, r"\s+")
        ws = re.compile("[ \t\n\x0b\f\r]+")
        join = " ".join
        for batch in it:
            ids = batch.column(0)
            vals: list[list[str]] = []
            for cell in batch.column(1):
                t = cell.as_py()
                if t is None:
                    vals.append([])
                    continue
                toks = [x for x in ws.split(t.lower()) if x]
                g = len(toks) - (k - 1)
                if g <= 0:
                    vals.append([])
                    continue
                grams = [
                    md5(join(toks[i : i + k]).encode()).hexdigest()
                    for i in range(g)
                ]
                if g >= window:
                    # width-`window` sliding minimum (hex is ASCII, so
                    # Python str comparison == the JVM's UTF8 byte
                    # order); slice+min run at C speed and the window
                    # is small — md5 dominates, not this
                    mins = [
                        min(grams[i : i + window])
                        for i in range(g - window + 1)
                    ]
                    vals.append(list(dict.fromkeys(mins)))
                else:
                    vals.append([min(grams)])
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(vals, type=pa.list_(pa.string()))],
                names=[id_col, "fingerprints"],
            )

    return df.select(id_col, text_col).mapInArrow(_batches, out_schema)


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxh64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every token k-gram, slide a width-`window`
    window over the gram hashes, keep each window's minimum, distinct
    the selections.  The guarantee: two documents sharing any token run
    of length >= window + k - 1 share at least one fingerprint — the
    POSITIONAL-overlap detector (plagiarism, quotation, partial copies)
    that the whole-document fingerprint_tokens cannot be.

    `hash="xxh64"` (default) is the fast JVM path; `hash="md5"` is
    bit-identical across engines (Spark and DuckDB both implement
    standard MD5 over the same gram strings), making fingerprint
    selection — and therefore overlap pairs — exactly reproducible
    outside Spark; the p16 oracle row runs on it.  md5 always runs on
    the mapInArrow kernel (_winnowing_md5_arrow: C MD5, no interpreted
    HOF lambda); xxh64 always runs as Column expressions (no bit-equal
    Python xxhash64 is guaranteed available).

    Plan shape of the xxh64 path: both the gram hashing and the window
    minimum use the t06 linear zip-of-shifted-slices form (never
    transform(sequence) whose nested re-evaluation goes quadratic);
    everything is per-row Column expressions — no shuffle, no UDF,
    embarrassingly parallel.  Documents shorter than k tokens yield an
    empty fingerprint set; with fewer than `window` grams the single
    minimum is kept (the standard short-document degeneration)."""
    if hash not in ("xxh64", "md5"):
        raise ValueError("hash must be 'xxh64' or 'md5'")
    if hash == "md5":
        return _winnowing_md5_arrow(df, k, window, text_col, id_col)
    toks = tokens_column(F.col(text_col))
    m = F.size(toks)
    gspan = m - (k - 1)
    gz = F.arrays_zip(*[F.slice(toks, i + 1, gspan) for i in range(k)])
    grams = F.transform(
        gz, lambda s: F.xxhash64(*[s[str(i)] for i in range(k)])
    )
    wspan = gspan - (window - 1)
    wz = F.arrays_zip(*[F.slice(grams, i + 1, wspan) for i in range(window)])
    mins = F.transform(
        wz, lambda s: F.least(*[s[str(i)] for i in range(window)])
    )
    fps = (
        F.when(gspan >= window, F.array_distinct(mins))
        .when(gspan > 0, F.array(F.array_min(grams)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return df.select(F.col(id_col), fps.alias("fingerprints"))


def winnowing_overlap_pairs(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_postings: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxh64",
    materialize: bool = True,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints —
    (id_a, id_b, n_shared), id_a < id_b.  The inverted-index pattern:
    explode fingerprints, self-join posting lists per fingerprint,
    count per pair.  Exactly the LSH-band shape, so the same skew story
    applies: a fingerprint minted by corpus-wide boilerplate has a
    posting list of the whole corpus and goes quadratic — at scale set
    `max_postings` to drop fingerprints with more than that many
    postings (they carry no discriminating signal, the same trade as
    minhash's max_bucket_size valve; dropped fingerprints reduce
    n_shared, never invent pairs).

    `materialize` (default True) eagerly localCheckpoints the
    fingerprint ARRAYS before the explode + self-join.  Measured at
    sf10 (r11): the fingerprint expression chain costs ~22-32 s to
    evaluate once, Spark's Generate re-evaluates it on explode instead
    of reusing the projected arrays (explode-from-cache is 0.3 s), and
    the self-join's two aliases evaluate it TWICE more — 70.6 s
    unmaterialized vs ~40 s materialized for identical output.  The
    checkpoint blocks are per-executor local (no driver collect) and
    released by the ContextCleaner when the frame is GC'd; pass False
    for a purely-lazy plan (composition into a larger pipeline that
    materializes anyway)."""
    arrays = winnowing_fingerprints(
        df,
        k=k,
        window=window,
        text_col=text_col,
        id_col=id_col,
        hash=hash,
    )
    if materialize:
        arrays = arrays.localCheckpoint(eager=True)
    fps = arrays.select(F.col(id_col), F.explode("fingerprints").alias("fp"))
    if max_postings is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") <= max_postings)
            .select("fp")
        )
        fps = fps.join(keep, "fp", "left_semi")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrub)
# ---------------------------------------------------------------------------

#: Deliberately conservative patterns, portable between Spark RLIKE and
#: DuckDB regexp_replace (RE2-compatible, no lookarounds)
EMAIL_PATTERN = r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}"
URL_PATTERN = r"https?://[^\s]+"
PHONE_PATTERN = r"\+?[0-9][0-9\-() ]{7,}[0-9]"


def redact_pii(
    col: Column,
    emails: bool = True,
    urls: bool = True,
    phones: bool = True,
    token: str = "<REDACTED>",
) -> Column:
    """Replace common PII shapes (emails, URLs, phone-like digit runs)
    with a sentinel token — the standard scrub pass before a text corpus
    feeds a training pipeline. Pure regexp_replace: JVM-side, codegen,
    no UDF. Order matters: emails first (an email contains no URL), then
    URLs, then phones, so a longer match never leaves a partial shorter
    match behind."""
    out = col
    if emails:
        out = F.regexp_replace(out, EMAIL_PATTERN, token)
    if urls:
        out = F.regexp_replace(out, URL_PATTERN, token)
    if phones:
        out = F.regexp_replace(out, PHONE_PATTERN, token)
    return out


def with_redacted_text(
    df: DataFrame, text_col: str = "text", out: str = "text_redacted"
) -> DataFrame:
    return df.withColumn(out, redact_pii(F.col(text_col)))


def rarity_weighted_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """IDF-style rarity-weighted relevance: score(d) = Σ_t occ(d, t) · N/df_t,
    where df_t counts documents containing token t. Rare terms dominate —
    the effect BM25's idf term provides — while staying ORACLE-EXACT: the
    weight is a single IEEE division (no log, whose libm rounding differs
    across engines), and occurrence counts reuse f17's length-delta form.

    Two jobs, both scale-shaped: (1) one pass computes N and every df_t as
    conditional counts (map-side combined, one row out); (2) the 1-row
    stats broadcast-cross-join onto the corpus scan, scoring in codegen.
    No UDFs, no shuffle of document text.
    """
    lowered = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    toks = tokens_column(F.col(text_col))
    stats = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.count(F.when(F.array_contains(toks, t), 1)).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    occ = None
    for i, t in enumerate(terms):
        term_occ = (
            F.length(lowered) - F.length(F.replace(lowered, F.lit(t)))
        ) / F.lit(float(len(t)))
        weighted = term_occ * (
            F.col("__n").cast("double")
            / F.greatest(F.col(f"__df_{i}"), F.lit(1)).cast("double")
        )
        occ = weighted if occ is None else occ + weighted
    return (
        df.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), occ.alias("score"))
        .where(F.col("score") > 0)
    )


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary: the k most frequent whitespace tokens as
    (token, n), ties broken by token ascending — fully deterministic
    across engines and partitionings.

    Scale shape: explode is narrow (no shuffle); the token count is one
    groupBy with map-side partial aggregation (token cardinality, not
    corpus size, crosses the wire); the global top-k plans as
    TakeOrderedAndProject — per-partition heaps of k rows merged on the
    driver, NEVER a global sort of the vocabulary. This is the
    tokenizer-training / vocab-audit primitive of the pipeline family
    (same tokenization as token_count_whitespace, so counts reconcile).
    """
    toks = tokens_column(F.col(text_col), lowercase=lowercase)
    return (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def fluency_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-proxy fluency score: a document's mean CORPUS frequency
    of its word bigrams. Degenerate/garbled text uses bigrams nobody else
    uses (score → 1); templated/natural text reuses common transitions.
    The n-gram-LM shape of quality filtering without a log() (libm
    rounding is engine-dependent; the mean of exact integer counts with
    one final IEEE division is oracle-exact).

    Returns (id, n_grams, fluency) for documents with >= 1 bigram.

    Scale shape: bigrams are built LINEARLY (arrays_zip of two shifted
    slices — the transform-over-sequence form re-evaluates tokenization
    per index, the measured O(tokens^2) hazard from t06); the corpus
    count and the re-join both hash on the bigram, map-side combined,
    shuffling 16-byte (hash, count) rows, never text. xxhash64 stands in
    for the bigram string on the wire — the dedup family's documented
    2^-64 collision trade.
    """
    toks = tokens_column(F.col(text_col))
    m = F.size(toks)
    z = F.arrays_zip(
        F.slice(toks, 1, F.greatest(m - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(m - 1, F.lit(0))),
    )
    grams = F.transform(z, lambda s: F.xxhash64(s["0"], s["1"]))
    doc_grams = df.select(
        F.col(id_col).alias("id"), F.explode(grams).alias("gram")
    )
    counts = doc_grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        doc_grams.join(counts, "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("fluency"),
        )
    )


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """Per-document lexical-diversity profile: token count, type
    (distinct-token) count, hapax count (types occurring exactly once
    IN the document), type-token ratio, and hapax/type ratio — the
    classic template-detection signals (machine-generated boilerplate
    has abnormally LOW TTR, gibberish abnormally HIGH hapax share; the
    corpus-level complement of quality_score's per-doc heuristics).

    The profile depends on NOTHING outside the document, so the
    default path (`use_arrow=True`) is MAP-ONLY: tokens are produced
    JVM-side (tokens_column — the same regex as every other text
    operator), then one Arrow-batched kernel factorizes each batch's
    tokens (pandas' C hash table) and takes per-(doc, token) counts
    via a single np.unique over composed int64 keys — zero exchange,
    zero explode rows through a shuffle.  Measured against the
    explode -> two-combinable-aggregations form (`use_arrow=False`,
    kept as the oracle-exact reference and pinned equal in tests): the
    r11 bench had the explode form at 12 s / 5.4x DuckDB at sf10; the
    kernel removes both shuffles (PLANS.md r12).

    explode_outer (reference path) / explicit zero-fill (kernel path)
    keeps null/empty documents in the result with all-zero counts
    (curation reports must account for every input row).  Ratios are
    raw IEEE double divisions — deterministic and engine-portable
    without rounding."""
    if use_arrow:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as _T

        id_field = df.schema[id_col]
        out_schema = _T.StructType(
            [
                _T.StructField(id_col, id_field.dataType, id_field.nullable),
                _T.StructField("n_tokens", _T.LongType(), True),
                _T.StructField("n_types", _T.LongType(), True),
                _T.StructField("n_hapax", _T.LongType(), True),
                _T.StructField("ttr", _T.DoubleType(), True),
                _T.StructField("hapax_ratio", _T.DoubleType(), True),
            ]
        )

        def _profile_batches(batches):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                toks = pdf["__toks"]
                lens = np.fromiter(
                    (0 if t is None else len(t) for t in toks),
                    dtype=np.int64,
                    count=n,
                )
                n_types = np.zeros(n, dtype=np.int64)
                n_hapax = np.zeros(n, dtype=np.int64)
                if lens.sum():
                    flat = np.concatenate(
                        [np.asarray(t, dtype=object) for t in toks
                         if t is not None and len(t)]
                    )
                    codes, uniq = pd.factorize(flat)
                    doc_idx = np.repeat(np.arange(n), lens)
                    key = doc_idx * np.int64(len(uniq)) + codes
                    ukeys, counts = np.unique(key, return_counts=True)
                    d = (ukeys // len(uniq)).astype(np.int64)
                    n_types = np.bincount(d, minlength=n).astype(np.int64)
                    n_hapax = np.bincount(
                        d[counts == 1], minlength=n
                    ).astype(np.int64)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "n_tokens": lens,
                        "n_types": n_types,
                        "n_hapax": n_hapax,
                        "ttr": n_types.astype(np.float64)
                        / np.maximum(lens, 1),
                        "hapax_ratio": n_hapax.astype(np.float64)
                        / np.maximum(n_types, 1),
                    }
                )

        return df.select(
            F.col(id_col),
            tokens_column(F.col(text_col)).alias("__toks"),
        ).mapInPandas(_profile_batches, out_schema)
    toks = df.select(
        F.col(id_col),
        F.explode_outer(tokens_column(F.col(text_col))).alias("tok"),
    )
    per_tok = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    real = F.col("tok").isNotNull()
    agg = per_tok.groupBy(id_col).agg(
        F.sum(F.when(real, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_tokens"),
        F.count(F.when(real, F.lit(1))).alias("n_types"),
        F.count(F.when(real & (F.col("c") == 1), F.lit(1))).alias("n_hapax"),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "n_types",
        "n_hapax",
        (
            F.col("n_types").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("ttr"),
        (
            F.col("n_hapax").cast("double")
            / F.greatest(F.col("n_types"), F.lit(1))
        ).alias("hapax_ratio"),
    )


def unigram_surprisal(
    df: DataFrame,
    lm_df: DataFrame = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document mean unigram surprisal — the floor of the classic
    CCNet/KenLM perplexity filter: fit a Laplace-smoothed unigram LM on
    `lm_df` (default: the corpus itself), score every document as
    mean(-ln p(w)) over its tokens — (doc_id, n_tokens,
    mean_surprisal).  High surprisal = rare/gibberish vocabulary, low =
    boilerplate; production pipelines threshold the middle band.
    Out-of-vocabulary tokens (an `lm_df` different from the scored
    corpus) score as the smoothing class alpha / (N + alpha(V+1)).

    Cross-engine determinism follows dsir_log_weights exactly:
    per-token surprisals quantize to INTEGER micro-units, the per-doc
    reduction sums BIGINTs (exact, order-independent), one double
    division at the end — the naive sum-doubles-then-round form
    mismatches engines systematically (the documented doc-461 lesson).

    Scale shape: the LM fit is one map-side-combinable groupBy into the
    word-TYPE table (Heaps'-law bounded); scoring joins exploded tokens
    against it — broadcast by default (right for vocabularies that fit
    an executor; pass broadcast_lm=False for a web-scale vocabulary,
    downgrading to a shuffled join on the token key); the only wide
    exchange is the per-doc sum.  Empty/null docs score (0, 0.0)."""
    lm_src = lm_df if lm_df is not None else df
    toks_lm = lm_src.select(
        F.explode(tokens_column(F.col(text_col))).alias("w")
    )
    cnt = toks_lm.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))
    denom = F.col("n") + alpha * (F.col("v") + 1)
    lm = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(-F.log((F.col("c") + alpha) / denom) * 1e6, 0)
        .cast("bigint")
        .alias("s_micro"),
    )
    oov = tot.select(
        F.round(-F.log(F.lit(alpha) / denom) * 1e6, 0)
        .cast("bigint")
        .alias("oov_micro")
    )
    per_tok = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_column(F.col(text_col))).alias("w"),
    )
    joined = per_tok.join(
        F.broadcast(lm) if broadcast_lm else lm, "w", "left"
    ).crossJoin(F.broadcast(oov))
    scored = joined.select(
        "id",
        "w",
        F.when(
            F.col("w").isNotNull(),
            F.coalesce(F.col("s_micro"), F.col("oov_micro")),
        ).alias("sm"),
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count("w").alias("n_tokens"),
            (
                F.coalesce(F.sum("sm"), F.lit(0)).cast("double")
                / F.greatest(F.count("w"), F.lit(1))
                / 1e6
            ).alias("mean_surprisal"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "mean_surprisal")
    )


# ---------------------------------------------------------------------------
# URL canonicalization + domain analysis — the standard web-pipeline
# curation stage (CCNet / RefinedWeb / Dolma all dedup by canonicalized
# URL and report the corpus domain mix before content-level dedup).
# Pure regexp Column expressions, chosen RE2-safe (no lookaround, no
# backreference patterns) so the SAME patterns run verbatim in DuckDB
# for the oracle row — every step below is SQL-expressible.
# ---------------------------------------------------------------------------

# tracking params stripped by canonicalization (lowercase names only —
# documented boundary; mixed-case tracking params survive)
URL_TRACKING_RE = "(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid|ref)"
_URL_PREFIX_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*"


def canonicalize_url(url: Column) -> Column:
    """Canonical form for URL-level dedup:

      1. trim surrounding whitespace
      2. drop the #fragment
      3. drop tracking query params (utm_*, fbclid, gclid, msclkid,
         ref) and any separator debris they leave, incl. a bare '?'
      4. lowercase the scheme://authority prefix (path/query keep case)
      5. drop the scheme's default port (:80 http, :443 https)
      6. drop a 'www.' host prefix
      7. drop one trailing '/'

    NULL in -> NULL out.  Boundaries, stated: userinfo URLs
    (user@host) keep their port (the host pattern stops at ':'), IDN
    hosts are not punycoded, and %-escapes are not normalized — all
    rare in web corpora and all deterministic, so dedup keys stay
    stable.  Every rewrite is a leftmost-global regexp_replace with
    identical semantics in Spark (Java regex) and DuckDB (RE2)."""
    u = F.regexp_replace(url, r"^\s+|\s+$", "")
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, "&" + URL_TRACKING_RE + "=[^&]*", "")
    u = F.regexp_replace(u, r"\?" + URL_TRACKING_RE + "=[^&]*&", "?")
    u = F.regexp_replace(u, r"\?" + URL_TRACKING_RE + "=[^&]*$", "")
    u = F.regexp_replace(u, r"\?$", "")
    u = F.concat(
        F.lower(F.regexp_extract(u, _URL_PREFIX_RE, 0)),
        F.regexp_replace(u, _URL_PREFIX_RE, ""),
    )
    u = F.regexp_replace(u, r"^(http://[^/?#:]+):80([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#:]+):443([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(https?://)www\.", "$1")
    return F.regexp_replace(u, r"/$", "")


def url_host(url: Column) -> Column:
    """Lowercased host: authority minus userinfo, port, and a 'www.'
    prefix.  NULL (not '') when the string has no scheme://authority
    shape, so non-URLs never collide into one dedup/report bucket."""
    host = F.lower(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", 1)
    )
    host = F.regexp_replace(host, r"^[^@]*@", "")
    host = F.regexp_replace(host, r":[0-9]*$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    return F.nullif(host, F.lit(""))


def url_domain(url: Column) -> Column:
    """Registrable domain, public-suffix-list-lite: the last two host
    labels, or the last THREE when the middle label is a common
    second-level suffix (co/com/net/org/ac/gov/edu under a 2-letter
    ccTLD — covers co.uk, com.au, ac.jp, ...).  A real PSL is a data
    file this container does not ship; the approximation is stated,
    deterministic, and identical in both engines.  NULL for hostless
    strings and bare single-label hosts."""
    host = url_host(url)
    dom = F.regexp_extract(
        host,
        r"([^.]+\.(?:co|com|net|org|ac|gov|edu)\.[a-z][a-z]|[^.]+\.[^.]+)$",
        1,
    )
    return F.nullif(dom, F.lit(""))


def domain_mix_report(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(domain, n_docs, share) — the corpus mix audit every web
    pipeline publishes.  One groupBy on the (short) domain key; the
    share denominator rides a broadcast one-row cross join, NOT a
    global window (a window over () funnels the whole report through
    one task — wrong shape even though the report is small)."""
    d = df.select(url_domain(F.col(url_col)).alias("domain"))
    counts = d.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    total = d.agg(F.count(F.lit(1)).alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        (F.col("n_docs") / F.col("__total")).alias("share"),
    )
