"""Byte-pair-encoding tokenizer training and encoding, Spark-first.

The trainer follows Sennrich et al. 2016 ("Neural Machine Translation
of Rare Words with Subword Units"), the algorithm GPT-2-style BPE
vocabularies are built with: start from characters, repeatedly merge
the most frequent adjacent symbol pair.  The classic implementation
trains on the WORD-FREQUENCY TABLE, not the corpus — and that is what
makes it distributable: a 100 TB corpus has a distinct-word table
orders of magnitude smaller (Heaps' law), produced by one
map-side-combinable groupBy.  Every training iteration is then

  1. one aggregation over the word table: explode adjacent symbol
     pairs, weight by word count, take the global max (ties broken
     lexicographically so the vocabulary is deterministic), and
  2. one map-only transform applying the winning merge to each word's
     symbol array — a left-to-right greedy scan expressed as
     F.aggregate over the array (JVM-side; no Python in the loop).

The driver holds only the merge list (vocab_size strings); the word
table stays distributed, is cached between iterations, and is
localCheckpoint'ed on a cadence because 1000+ chained transforms would
otherwise grow an unbounded lineage (the same lesson as the cluster
journal's compact_every).

ENCODING applies the full ranked merge list per document.  That is an
inherently iterative per-token computation (apply merges in rank
order, always the lowest-rank pair first), so it runs as an
Arrow-batched pandas UDF over mapInPandas — the documented honest UDF
boundary, like SimHash's bit-ops: embarrassingly parallel, no shuffle,
scales with executors.

No oracle rows: iterative training is not SQL-expressible.  Pinned by
pytest instead — the Sennrich worked example, a naive-reference
differential on a randomized corpus, and encode/merge-consistency
properties.

UNICODE BOUNDARY (stated, not hidden): both trainer and encoder
lowercase with the engine's F.lower and word-tokenize on Java's
ASCII-only \\s class ([ \\t\\n\\x0B\\f\\r]) — identical expressions on
both paths, so they cannot drift — which means scripts that do not use
ASCII whitespace as word boundaries (Chinese, Japanese, Thai) tokenize
as whole-line "words", and in the default character-level mode their
vocabulary explodes into whole-grapheme symbols.  mode="byte" is the
upgrade path, shipped as an opt-in (r10 verdict #6): words are
pre-tokenized to UTF-8 bytes rendered through the GPT-2 byte<->unicode
bijection (Radford et al. 2019's encoder.py table — every byte 0..255
maps to one printable codepoint, so symbols stay inspectable strings
and the base alphabet is CLOSED at 256 + EOW).  Every string is then
coverable with zero unknown tokens and multi-byte scripts learn merges
over bytes exactly like GPT-2's tokenizer.  The byte rendering runs in
one Arrow-batched pandas UDF over the DISTINCT-WORD table only
(Heaps'-bounded, never the corpus), and the training loop is byte/char
agnostic — symbols are strings either way.  The shipped default stays
character-level because its vocabulary is directly inspectable in
tests and oracles; artifacts persist their mode and load_bpe refuses a
mode mismatch loudly.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloudfabric_eventsourcing_spark import commit

#: end-of-word marker (Sennrich's </w>): lets the encoder distinguish
#: word-final subwords so detokenization is lossless
EOW = "</w>"

_MODES = ("char", "byte")


def bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte<->unicode bijection (Radford et al. 2019,
    encoder.py — published): printable ASCII and the Latin-1 printable
    ranges map to themselves; the remaining 68 bytes shift to 256+n so
    every byte renders as exactly one printable codepoint.  Symbols
    stay human-inspectable strings and round-trip losslessly."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


def unicode_to_bytes() -> dict[str, int]:
    """Inverse of bytes_to_unicode — decode rendered byte symbols back
    to raw bytes (the lossless-coverage proof lives on this inverse)."""
    return {v: k for k, v in bytes_to_unicode().items()}


def _check_mode(mode: str) -> None:
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")


def _word_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, count) over the corpus — the one corpus-sized pass."""
    from cloudfabric_eventsourcing_spark.operators.text import tokens_column

    return (
        df.select(F.explode(tokens_column(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _apply_merge(sym_col, a: str, b: str):
    """Left-to-right greedy single-merge scan over a symbol array as a
    pure Column expression: fold symbols into an accumulator, fusing
    the pair (a, b) whenever the accumulator's tail is `a` (and not
    itself just fused) and the next symbol is `b`."""
    merged = a + b
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a)
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    checkpoint_every: int = 25,
    mode: str = "char",
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from the corpus; returns the ranked
    merge list (rank = list position), the artifact bpe_encode and
    every standard BPE implementation consume.

    Stops early when no adjacent pair reaches `min_pair_count`
    (weighted by word frequency) — merging hapax pairs only memorizes
    the tail.  Deterministic: the argmax tie-break is (count desc,
    pair lexicographic asc), independent of partitioning.

    Cost model at scale: the corpus is read ONCE (the word-table
    groupBy); each of the n_merges iterations touches only the
    distinct-word table (a groupBy into at most |pairs| cells plus a
    map-only array transform).  The loop is driver-COORDINATED but not
    driver-computed — the driver sees one (pair, count) row per
    iteration.

    mode="byte" seeds symbols from the word's UTF-8 bytes rendered
    through the GPT-2 bijection instead of its characters (see the
    module docstring); the iteration loop is identical — symbols are
    strings either way."""
    _check_mode(mode)
    wt = _word_table(df, text_col)
    if mode == "byte":
        table = bytes_to_unicode()

        @F.pandas_udf("array<string>")
        def byte_syms(words_s: pd.Series) -> pd.Series:
            return words_s.map(
                lambda w: [table[b] for b in w.encode("utf-8")] + [EOW]
            )

        # Arrow-batched, over the Heaps'-bounded DISTINCT-word table
        # only — the corpus itself never crosses the Python boundary
        words = wt.select(byte_syms(F.col("w")).alias("syms"), F.col("n"))
    else:
        words = wt.select(
            F.concat(
                F.split(F.col("w"), ""), F.array(F.lit(EOW))
            ).alias("syms"),
            F.col("n"),
        )
    words = words.localCheckpoint()
    merges: list[tuple[str, str]] = []
    pending = None  # superseded cached table, unpersisted once its child materializes
    for i in range(n_merges):
        span = F.greatest(F.size("syms") - 1, F.lit(0))
        pairs = words.select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, span),
                    F.slice(F.col("syms"), 2, span),
                    lambda x, y: F.struct(
                        x.alias("a"), y.alias("b")
                    ),
                )
            ).alias("p"),
            "n",
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(
                F.col("cnt").desc(),
                F.col("p.a").asc(),
                F.col("p.b").asc(),
            )
            .limit(1)
            .collect()
        )
        # the collect above materialized the current table, so the one
        # it superseded can release its storage now
        if pending is not None:
            pending.unpersist(False)
            pending = None
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        new_words = words.select(
            _apply_merge(F.col("syms"), a, b).alias("syms"), "n"
        )
        # truncate lineage: n_merges chained aggregate() transforms
        # would otherwise build an unbounded plan
        if (i + 1) % checkpoint_every == 0:
            new_words = new_words.localCheckpoint()  # eager: parent freeable now
            words.unpersist(False)
        else:
            new_words = new_words.cache()
            pending = words
        words = new_words
    words.unpersist(False)
    if pending is not None:  # loop ended on the cache branch: release
        pending.unpersist(False)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    mode: str = "char",
) -> DataFrame:
    """Encode every document with the ranked merge list — appends
    `out_col` (array<string> of subword tokens, each word terminated
    by its EOW-bearing final subword).  Arrow-batched mapInPandas;
    the rank table broadcasts inside the closure, rows never shuffle.

    This IS the reference BPE encode (always fuse the lowest-rank
    adjacent pair first) — not the training scan — so a pair learned
    late never preempts an earlier merge, exactly as at train time.

    `mode` MUST match the merges' training mode (load_bpe enforces it
    for persisted artifacts): merges over byte symbols can never fire
    on character symbols and vice versa — they would silently encode
    to the base alphabet."""
    _check_mode(mode)
    ranks = {tuple(m): r for r, m in enumerate(merges)}
    byte_table = bytes_to_unicode() if mode == "byte" else None
    import re

    # IMPORTANT: must split words exactly like the TRAINER, which
    # tokenizes JVM-side — and Java's \s is ASCII-only ([ \t\n\x0B\f\r])
    # while Python's re \s matches all Unicode whitespace.  Compiling
    # the Java class literally keeps a document with an NBSP producing
    # the same words at encode time as at train time (self-review
    # finding: the drifted form silently split words the trainer never
    # saw).
    splitter = re.compile("[ \t\n\x0b\f\r]+")

    def encode_word(word: str, cache: dict) -> list:
        if word in cache:
            return cache[word]
        if byte_table is not None:
            syms = [byte_table[b] for b in word.encode("utf-8")] + [EOW]
        else:
            syms = list(word) + [EOW]
        while len(syms) > 1:
            best, bi = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
        cache[word] = syms
        return syms

    # case mapping MUST match the trainer, which lowercases JVM-side
    # (F.lower): Python str.lower() disagrees with the JVM on some
    # non-ASCII points ('İ', locale-sensitive Turkish dotless-i), so
    # lowering is done with the SAME engine expression in a temp column
    # and the Python side never calls .lower() (self-review finding,
    # same class as the \s drift above).
    lc_col = "__bpe_lc"
    while lc_col in df.columns:
        lc_col = "_" + lc_col
    lowered = df.withColumn(lc_col, F.lower(F.col(text_col)))

    # output schema built structurally from df.schema (NOT a DDL string
    # join — names with spaces/hyphens/reserved chars would fail to
    # parse); the temp column is dropped inside the UDF
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.StringType()), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            toks = []
            for t in pdf[lc_col]:
                if t is None or pd.isna(t):
                    toks.append([])
                    continue
                out: list = []
                for w in splitter.split(str(t)):
                    if w:
                        out.extend(encode_word(w, cache))
                toks.append(out)
            pdf = pdf.drop(columns=[lc_col])
            pdf[out_col] = toks
            yield pdf

    return lowered.mapInPandas(run, schema=out_schema)


#: bump when the persisted layout or the tokenization contract changes;
#: load_bpe refuses newer formats loudly instead of mis-encoding
#: (v2: adds the `mode` column — byte-level artifacts; v1 artifacts
#: load as mode="char", which is exactly what v1 encoders produced)
_BPE_FORMAT_VERSION = 2

#: the Java \s class both trainer (text.TOKEN_SPLIT_RE under the JVM)
#: and encoder (compiled literally in bpe_encode) split on — persisted
#: so a future change to the tokenizer invalidates old artifacts loudly
_SPLITTER_CLASS = "[ \\t\\n\\x0b\\f\\r]+"


def save_bpe(
    spark, merges: Sequence[tuple[str, str]], path: str, mode: str = "char"
) -> None:
    """Persist a trained tokenizer as a versioned artifact: the ranked
    merge list plus the full tokenization contract (EOW marker, the
    whitespace class, the lowercase flag, format version).  A production
    tokenizer is an artifact, not driver memory — training once on the
    100 TB corpus and encoding forever is the whole point.

    Same crash discipline as the persisted dedup/ANN indexes
    (delete-marker-first / stamp-last): a crash between the meta and
    merges writes leaves no marker, and load_bpe fails loudly instead
    of encoding with half an artifact."""
    _check_mode(mode)
    commit.clear_marker(spark, path)
    spark.createDataFrame(
        [(_BPE_FORMAT_VERSION, EOW, _SPLITTER_CLASS, True, len(merges),
          mode)],
        "format_version int, eow string, splitter string, "
        "lowercase boolean, n_merges int, mode string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    spark.createDataFrame(
        [(r, a, b) for r, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/merges")
    commit.stamp_marker(spark, path)


def load_bpe(spark, path: str, mode: str = "char") -> list[tuple[str, str]]:
    """Load a tokenizer saved by save_bpe, validating the tokenization
    contract: a format from a future version, or an artifact whose
    EOW/splitter/lowercase parameters disagree with what THIS module's
    encoder implements, refuses loudly — silently encoding with a
    different word segmentation than the artifact was trained with is
    the exact drift class the r9 \\s fix closed.

    `mode` declares how the caller intends to ENCODE with these merges;
    an artifact trained under the other mode refuses loudly (byte
    merges never fire on char symbols and vice versa — a mismatch
    silently degrades to base-alphabet encoding).  v1 artifacts carry
    no mode column and load as "char", which is what v1 produced."""
    _check_mode(mode)
    commit.require_marker(spark, path)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    if meta["format_version"] > _BPE_FORMAT_VERSION:
        raise ValueError(
            f"BPE artifact at {path} is format v{meta['format_version']}; "
            f"this build reads <= v{_BPE_FORMAT_VERSION}"
        )
    artifact_mode = (
        meta["mode"] if "mode" in meta.__fields__ else "char"
    )
    if artifact_mode != mode:
        raise ValueError(
            f"BPE artifact at {path} was trained in mode="
            f"{artifact_mode!r} but the caller will encode in mode="
            f"{mode!r}; byte and char merges are not interchangeable"
        )
    if (meta["eow"], meta["splitter"], meta["lowercase"]) != (
        EOW, _SPLITTER_CLASS, True
    ):
        raise ValueError(
            f"BPE artifact at {path} was trained under a different "
            f"tokenization contract (eow={meta['eow']!r}, "
            f"splitter={meta['splitter']!r}, "
            f"lowercase={meta['lowercase']}); re-train or convert"
        )
    rows = spark.read.parquet(f"{path}/merges").collect()
    ranked = sorted(rows, key=lambda r: r["rank"])
    if [r["rank"] for r in ranked] != list(range(len(ranked))):
        raise ValueError(
            f"BPE artifact at {path} has non-contiguous merge ranks — "
            "corrupt or partially written"
        )
    if len(ranked) != meta["n_merges"]:
        raise ValueError(
            f"BPE artifact at {path} holds {len(ranked)} merges but its "
            f"meta pins {meta['n_merges']} — corrupt or partially written"
        )
    return [(r["a"], r["b"]) for r in ranked]


def bpe_vocab(merges: Sequence[tuple[str, str]]) -> list[str]:
    """The subword vocabulary implied by a merge list: every merge
    product, in rank order (base characters are implicit — any symbol
    not produced by a merge is a single character or char+EOW)."""
    return [a + b for a, b in merges]
