"""Filter-AST -> pyspark Column translation and ProjectionQuery execution.

This is the Spark counterpart of the reference's four per-backend query
translators (behavioral spec, read-only):
  - Postgres SQL:   Implementations/CloudFabric.Projections.Postgresql/
                    PostgresqlProjectionRepository.cs:472-925
  - Elasticsearch:  .../ElasticSearch/Helpers/ElasticSearchFilterFactory.cs:37-266
  - CosmosDB SQL:   .../CosmosDb/CosmosDbProjectionRepository.cs:282-492
  - in-memory LINQ: CloudFabric.Projections/Queries/FilterExpressionExtensions.cs:48-243

Instead of emitting backend query text, we build a Catalyst logical plan:
every operator becomes a `pyspark.sql.Column` expression, so predicate
pushdown / column pruning / partition pruning come free from Catalyst
(SURVEY.md §4). Declarative all the way down — no UDFs, no collect loops.

Semantics pinned by the reference and kept here:
  - default string ops are case-SENSITIVE; *-ignore-case via lower() on both
    sides (OrderStringComparisonTests.cs matrix; Postgres LIKE vs ILIKE,
    PostgresqlProjectionRepository.cs:746-754);
  - `eq null` -> IS NULL, `ne null` -> IS NOT NULL (:728-732,786-789);
  - boolean trees fold left-associatively, connectors with children are
    parenthesized subtrees (:826-887, FilterExpressionExtensions.cs:157-173);
  - a filter with empty/"*" property name is a grouping node contributing no
    predicate of its own (:687-690, FilterExpressionExtensions.cs:50-65);
  - dotted paths into one level of nested object ("CreatedBy.UserId" — :692-724)
    or nested array with EXISTS semantics ("Items.Amount" — lateral
    jsonb_array_elements + GROUP BY id dedup, :704-717,528). We use the
    `exists()` higher-order function, which needs no unnest + dedup;
  - `string-contains` on an array property raises ("use ArrayContains
    instead", :805-811);
  - full-text search = OR of case-insensitive substring over all searchable
    columns, incl. searchable fields of nested arrays (ConstructSearchQuery
    :909-925, InMemoryProjectionRepository.cs:197-210). ES phrase-prefix
    scoring is a documented divergence (SURVEY.md §7);
  - total count ignores limit/offset (:531-538,562-566).
"""

from __future__ import annotations

import datetime
import decimal
import uuid
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark.queries.filters import Filter, FilterLogic, FilterOperator
from cloudfabric_eventsourcing_spark.queries.projection_query import (
    FacetInfoRequest,
    FacetStats,
    ProjectionQuery,
    ProjectionQueryResult,
    QueryResultDocument,
    SortInfo,
    SortOrder,
)
from cloudfabric_eventsourcing_spark.schema import ARRAY, OBJECT, ProjectionSchema, PropertySchema


class FilterTranslationError(ValueError):
    pass


def _lit(value) -> Column:
    """Literal conversion with the engine's canonical representations:
    uuid -> lowercase string, Decimal/datetime native (C7/C8 cast ladder,
    PostgresqlProjectionRepository.cs:761-783)."""
    if isinstance(value, uuid.UUID):
        return F.lit(str(value).lower())
    if isinstance(value, (decimal.Decimal, datetime.datetime, datetime.date)):
        return F.lit(value)
    return F.lit(value)


def _leaf_predicate(col: Column, op: str, value, is_array: bool = False) -> Column:
    """One (column, operator, value) comparison -> Column predicate."""
    if op == FilterOperator.Equal:
        return col.isNull() if value is None else col == _lit(value)
    if op == FilterOperator.NotEqual:
        return col.isNotNull() if value is None else col != _lit(value)
    if op == FilterOperator.Greater:
        return col > _lit(value)
    if op == FilterOperator.GreaterOrEqual:
        return col >= _lit(value)
    if op == FilterOperator.Lower:
        return col < _lit(value)
    if op == FilterOperator.LowerOrEqual:
        return col <= _lit(value)
    if op in FilterOperator.STRING_OPS:
        if is_array:
            # PostgresqlProjectionRepository.cs:805-811
            raise FilterTranslationError(
                f"{op} is not supported on array properties; use "
                f"{FilterOperator.ArrayContains}"
            )
        v = str(value)
        if op == FilterOperator.StartsWith:
            return col.startswith(v)
        if op == FilterOperator.EndsWith:
            return col.endswith(v)
        if op == FilterOperator.Contains:
            return col.contains(v)
        lowered, lv = F.lower(col), v.lower()
        if op == FilterOperator.StartsWithIgnoreCase:
            return lowered.startswith(lv)
        if op == FilterOperator.EndsWithIgnoreCase:
            return lowered.endswith(lv)
        return lowered.contains(lv)
    if op == FilterOperator.ArrayContains:
        return F.array_contains(col, _lit(value))
    raise FilterTranslationError(f"unknown filter operator: {op!r}")


def _resolve_path(
    path: str, schema: Optional[ProjectionSchema]
) -> tuple[Optional[str], Optional[str], Optional[PropertySchema]]:
    """Split a dotted path at an array boundary.

    Returns (array_root, remainder, root_prop). If the first segment is a
    nested-array property, predicates on the remainder get EXISTS semantics
    (reference supports exactly one nesting level —
    PostgresqlProjectionRepository.cs:712)."""
    if schema is None:
        return None, None, None
    head = path.split(".", 1)
    prop = schema.property(head[0])
    if prop is not None and prop.type == ARRAY and len(head) == 2:
        return head[0], head[1], prop
    return None, None, prop


def filter_to_column(f: Filter, schema: Optional[ProjectionSchema] = None) -> Column:
    """Fold the filter tree into one Column predicate (left-associative,
    grouping rules of ConstructConditionFilter,
    PostgresqlProjectionRepository.cs:826-887)."""
    acc: Optional[Column] = None
    if not f.is_grouping_node:
        acc = _leaf_to_column(f, schema)
    for connector in f.filters:
        child = filter_to_column(connector.filter, schema)
        if acc is None:
            acc = child
        elif connector.logic == FilterLogic.And:
            acc = acc & child
        elif connector.logic == FilterLogic.Or:
            acc = acc | child
        else:
            raise FilterTranslationError(f"unknown logic token: {connector.logic!r}")
    return F.lit(True) if acc is None else acc


def _leaf_to_column(f: Filter, schema: Optional[ProjectionSchema]) -> Column:
    path, op, value = f.property_name, f.operator, f.value
    array_root, remainder, prop = _resolve_path(path, schema)
    if array_root is not None:
        # EXISTS over array elements: exists(Items, x -> x.Amount >= 5).
        # No explode + GROUP BY id dedup needed (SURVEY.md F12/J1).
        return F.exists(
            F.col(array_root),
            lambda x: _leaf_predicate(x[remainder], op, value),
        )
    is_array = prop is not None and prop.type == ARRAY
    if op == FilterOperator.ArrayContains and prop is None and schema is not None:
        raise FilterTranslationError(f"unknown property {path!r}")
    return _leaf_predicate(F.col(path), op, value, is_array=is_array)


# ---------------------------------------------------------------------------
# Full-text search (F13)
# ---------------------------------------------------------------------------

def _contains_lambda(field: str, needle: str):
    # single-arg lambda (Spark HOFs dispatch on arity); field/needle bound
    # via closure, not default args
    return lambda x: F.lower(x[field]).contains(needle)


def _term_column(needle: str, schema: ProjectionSchema) -> Optional[Column]:
    """OR of lower(col) contains `needle` over searchable columns; nested
    array fields via exists()."""
    acc: Optional[Column] = None
    for path in schema.searchable_paths():
        array_root, remainder, _ = _resolve_path(path, schema)
        if array_root is not None:
            pred = F.exists(F.col(array_root), _contains_lambda(remainder, needle))
        else:
            pred = F.lower(F.col(path)).contains(needle)
        acc = pred if acc is None else (acc | pred)
    return acc


_EMAIL_TOKEN_RX = None
_URL_TOKEN_RX = None


def tokenize_terms(needle: str, analyzer: str = "whitespace") -> list[str]:
    """Split a lowercased search text into terms per the analyzer:

    - "whitespace" (default): whitespace split — the engine's baseline.
    - "uax_url_email": whitespace split, then non-alphanumeric split of
      each token EXCEPT tokens that are emails or URLs, which stay whole —
      ES's uax_url_email tokenizer, the reference's `url-email-analyzer`
      (ElasticSearchProjectionIndexer.cs:72-81, SearchAnalyzers.cs:5).
    - "standard": whitespace + non-alphanumeric split of every token —
      ES's standard tokenizer (emails/URLs shatter into fragments).
    """
    import re as _re

    global _EMAIL_TOKEN_RX, _URL_TOKEN_RX
    if _EMAIL_TOKEN_RX is None:
        # compiled from the same sources the Column tokenizer rlikes, so
        # query-side and index-side analysis can never drift
        _EMAIL_TOKEN_RX = _re.compile(_EMAIL_RX_SRC)
        _URL_TOKEN_RX = _re.compile(_URL_RX_SRC)
    raw = [t for t in (needle or "").split() if t]
    if analyzer in (None, "whitespace"):
        return raw
    if analyzer == "uax_url_email":
        out: list[str] = []
        for t in raw:
            if _EMAIL_TOKEN_RX.match(t) or _URL_TOKEN_RX.match(t):
                out.append(t)
            else:
                out.extend(p for p in _re.split(r"[^a-z0-9]+", t) if p)
        return out
    if analyzer == "standard":
        return [p for t in raw for p in _re.split(r"[^a-z0-9]+", t) if p]
    raise ValueError(f"unknown analyzer {analyzer!r}")


# token-shape regexes shared by the Python tokenizer above and the
# Column tokenizer below; within a whitespace token `.+` ≡ `\S+`, and the
# patterns are plain enough to behave identically in Python re, Java
# regex (Spark rlike), and RE2 (DuckDB regexp_matches) — which is what
# lets an oracle replicate index-time analysis verbatim
_EMAIL_RX_SRC = r"^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$"
_URL_RX_SRC = r"^[a-z][a-z0-9+.-]*://.+$"


def analyzed_tokens(col: Column, analyzer: Optional[str]) -> Column:
    """Index-time analysis as a Column: the token array the reference's
    ES backend would have stored for this field under `analyzer`
    (ElasticSearchProjectionIndexer.cs:181-203).  All JVM-side HOFs —
    split/transform/flatten/filter — no Python in the hot path."""
    base = F.filter(
        F.split(F.lower(F.coalesce(col, F.lit(""))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    if analyzer in (None, "whitespace"):
        return base
    if analyzer == "standard":
        shattered = F.transform(base, lambda t: F.split(t, "[^a-z0-9]+"))
    elif analyzer == "uax_url_email":
        shattered = F.transform(
            base,
            lambda t: F.when(
                t.rlike(_EMAIL_RX_SRC) | t.rlike(_URL_RX_SRC), F.array(t)
            ).otherwise(F.split(t, "[^a-z0-9]+")),
        )
    else:
        raise ValueError(f"unknown analyzer {analyzer!r}")
    return F.filter(F.flatten(shattered), lambda t: t != F.lit(""))


def phrase_prefix_regex(search_text: str, slop: int = 0) -> Optional[str]:
    """Regex for ES match_phrase_prefix semantics: the terms must appear
    consecutively (any whitespace between them), the first term starts at
    a word boundary, the last term is an open prefix. Same pattern works
    in Spark RLIKE and DuckDB regexp_matches (both RE2-ish).

    slop > 0 approximates ES phrase slop (the reference searches with
    slop 20 — ElasticSearchQueryFactory.cs:11-129) as a bounded gap: up
    to `slop` intervening whitespace tokens are allowed between EACH
    adjacent term pair.  Documented divergence from ES's positional
    model: ES's budget is TOTAL movement across the phrase and (at
    slop >= 2) admits transpositions; the per-gap form is more
    permissive on gaps, never reorders, and stays one RLIKE — no
    positional index needed."""
    import re as _re

    terms = [t for t in (search_text or "").lower().split() if t]
    if not terms:
        return None
    sep = (
        "\\s+" if slop <= 0 else "\\s+(\\S+\\s+){0,%d}" % int(slop)
    )
    return "(^|[^a-z0-9])" + sep.join(_re.escape(t) for t in terms)


def _effective_synonyms(
    map_names: Optional[list], query_synonyms: Optional[dict]
) -> Optional[dict]:
    """Registered maps (by declared name) merged with query-time
    contents; None when there is nothing to expand (keeps the no-synonym
    plans byte-identical to before the registry existed)."""
    if not map_names and not query_synonyms:
        return None
    from cloudfabric_eventsourcing_spark.queries.synonyms import (
        resolve_synonym_maps,
    )

    merged = resolve_synonym_maps(map_names or [], query_synonyms)
    return merged or None


def expand_synonyms(term: str, synonyms: Optional[dict]) -> list[str]:
    """The term plus its synonym group, lowercased, stably ordered
    (term first, alternates sorted) — the expansion ES performs at
    analysis time with a deployed synonym map."""
    if not synonyms:
        return [term]
    alts = synonyms.get(term) or []
    seen = [term]
    for a in sorted(str(x).lower() for x in alts):
        if a and a not in seen:
            seen.append(a)
    return seen


def search_to_column(
    search_text: str,
    schema: Optional[ProjectionSchema],
    mode: str = "substring",
    analyzer: str = "whitespace",
    synonyms: Optional[dict] = None,
    phrase_slop: int = 0,
) -> Optional[Column]:
    """Full-text search predicate (F13).

    mode="substring": one contains() of the whole text per searchable
    column, OR-combined (the Postgres ILIKE baseline, ConstructSearchQuery
    — PostgresqlProjectionRepository.cs:909-925).
    mode="tokenized": whitespace-split terms; every term must match at
    least one searchable column (AND between terms, OR across fields per
    term) — ES's default_operator=AND semantics
    (ElasticSearchQueryFactory.cs:11-129).
    mode="phrase_prefix": consecutive terms, last term an open prefix —
    ES match_phrase_prefix (ElasticSearchQueryFactory.cs suggester
    surface)."""
    if not search_text or search_text == "*" or schema is None:
        return None
    needle = search_text.lower()
    if mode == "tokenized":
        # AND between terms; each term ORs over its synonym group.
        # Groups come from the schema-attached REGISTERED maps
        # (SynonymMaps — ProjectionDocumentPropertySchema.cs:23,
        # deployed via queries/synonyms.register_synonym_map) merged
        # with any query-time map contents (the sv1 wire param), which
        # extend/override per term.
        synonyms = _effective_synonyms(
            schema.searchable_synonym_map_names(), synonyms
        )
        terms = tokenize_terms(needle, analyzer)
        if not terms:
            # non-empty query, zero analyzed terms ('!!!' under standard)
            # matches NOTHING — None would read as "no filter" (see the
            # match-mode note below; same shape, all token modes)
            return F.lit(False)
        acc: Optional[Column] = None
        for term in terms:
            term_pred: Optional[Column] = None
            for variant in expand_synonyms(term, synonyms):
                vp = _term_column(variant, schema)
                if vp is None:
                    return None
                term_pred = vp if term_pred is None else (term_pred | vp)
            if term_pred is None:
                return None
            acc = term_pred if acc is None else (acc & term_pred)
        return acc
    if mode == "match":
        # ES `match` with operator AND, honoring the PER-PROPERTY
        # analyzer split (E7 index/search surface): each field's stored
        # tokens are what ITS index analyzer would have produced, the
        # query is tokenized per ITS search analyzer (falling back to
        # the query-level option), and a doc matches when some field
        # carries ALL query terms as whole tokens (field-centric AND —
        # substring modes cannot observe index-time analysis; token
        # equality can, e.g. uax_url_email keeps emails atomic so a
        # "example com" domain query misses them while standard hits).
        acc = None
        path_maps = dict(schema.searchable_path_synonym_maps())
        for path, s_an, i_an in schema.searchable_path_analyzers():
            terms = tokenize_terms(needle, s_an or analyzer)
            if not terms:
                continue
            # field-centric mode resolves each field's OWN declared
            # maps — the per-property granularity the reference's
            # SynonymMaps declaration implies
            field_syn = _effective_synonyms(path_maps.get(path), synonyms)
            array_root, remainder, _ = _resolve_path(path, schema)
            field_pred: Optional[Column] = None
            for term in terms:
                variants = expand_synonyms(term, field_syn)
                if array_root is not None:
                    tp = F.exists(
                        F.col(array_root),
                        _match_elem_lambda(remainder, variants, i_an),
                    )
                else:
                    tp = _token_membership(
                        analyzed_tokens(F.col(path), i_an), variants
                    )
                field_pred = tp if field_pred is None else (field_pred & tp)
            if field_pred is not None:
                acc = field_pred if acc is None else (acc | field_pred)
        # a non-empty query whose terms analyze away everywhere (e.g.
        # '!!!' under a standard analyzer) matches NOTHING — returning
        # None here would read as "no search filter" and match ALL,
        # where ES and the python backend both return the empty set
        return F.lit(False) if acc is None else acc
    if mode == "fuzzy":
        # ES query_string fuzziness=AUTO: AND between terms; a term matches
        # a field when some whitespace token is within the AUTO edit
        # distance (ElasticSearchQueryFactory.cs query_string surface)
        terms = tokenize_terms(needle, analyzer)
        if not terms:
            return F.lit(False)  # same zero-terms rule as tokenized/match
        acc = None
        for term in terms:
            term_pred = _fuzzy_term_column(term, schema)
            if term_pred is None:
                return None
            acc = term_pred if acc is None else (acc & term_pred)
        return acc
    if mode == "phrase_prefix":
        pattern = phrase_prefix_regex(needle, phrase_slop)
        if pattern is None:
            return None
        acc = None
        for path in schema.searchable_paths():
            array_root, remainder, _ = _resolve_path(path, schema)
            if array_root is not None:
                pred = F.exists(
                    F.col(array_root), _rlike_lambda(remainder, pattern)
                )
            else:
                pred = F.lower(F.col(path)).rlike(pattern)
            acc = pred if acc is None else (acc | pred)
        return acc
    return _term_column(needle, schema)


def _rlike_lambda(field: str, pattern: str):
    return lambda x: F.lower(x[field]).rlike(pattern)


def _token_membership(tokens: Column, variants: list[str]) -> Column:
    if len(variants) == 1:
        return F.array_contains(tokens, variants[0])
    return F.exists(tokens, lambda t: t.isin(variants))


def _match_elem_lambda(field: str, variants: list[str], index_analyzer):
    return lambda x: _token_membership(
        analyzed_tokens(x[field], index_analyzer), variants
    )


def auto_fuzziness(term: str) -> int:
    """ES AUTO fuzziness ladder: 0 edits below 3 chars, 1 edit for 3-5,
    2 edits above (Elasticsearch query_string `fuzziness=AUTO`)."""
    if len(term) < 3:
        return 0
    if len(term) <= 5:
        return 1
    return 2


def _fuzzy_token_pred(col: Column, term: str) -> Column:
    """Some whitespace token of lower(col) within AUTO edit distance of
    `term` — F.levenshtein is JVM-side and matches DuckDB's levenshtein()
    exactly, so the oracle replicates the predicate verbatim."""
    dist = auto_fuzziness(term)
    toks = F.split(F.lower(F.coalesce(col, F.lit(""))), r"\s+")
    if dist == 0:
        return F.exists(toks, lambda t: t == F.lit(term))
    return F.exists(toks, _lev_lambda(term, dist))


def _lev_lambda(term: str, dist: int):
    return lambda t: F.levenshtein(t, F.lit(term)) <= dist


def _fuzzy_term_column(term: str, schema: ProjectionSchema) -> Optional[Column]:
    acc: Optional[Column] = None
    for path in schema.searchable_paths():
        array_root, remainder, _ = _resolve_path(path, schema)
        if array_root is not None:
            pred = F.exists(
                F.col(array_root), _fuzzy_field_lambda(remainder, term)
            )
        else:
            pred = _fuzzy_token_pred(F.col(path), term)
        acc = pred if acc is None else (acc | pred)
    return acc


def _fuzzy_field_lambda(field: str, term: str):
    return lambda x: _fuzzy_token_pred(x[field], term)


def _occurrence_count(col: Column, term: str) -> Column:
    """Occurrences of `term` in lower(col) via length-delta — pure codegen,
    same formula an ANSI-SQL oracle can replicate."""
    lowered = F.lower(F.coalesce(col, F.lit("")))
    return (F.length(lowered) - F.length(F.replace(lowered, F.lit(term)))) / F.lit(
        float(len(term))
    )


def score_column(
    search_text: str,
    schema: Optional[ProjectionSchema],
    mode: str = "substring",
    analyzer: str = "whitespace",
) -> Optional[Column]:
    """TF relevance score: total occurrences of each search term across the
    searchable columns (array fields aggregate over their elements), each
    field's contribution weighted by its schema `searchable_boost` — the
    per-field boost the reference's ES backend applies
    (ElasticSearchQueryFactory.cs:11-129).

    The reference's ES backend returns BM25 scores
    (ElasticSearchProjectionIndexer.cs:64-271); its Postgres baseline
    returns 0. This term-frequency score is the documented middle ground:
    deterministic, SQL-expressible (oracle-checkable), monotone in match
    count. Enabled via ProjectionQuery.scoring_profile == "tf"."""
    if not search_text or search_text == "*" or schema is None:
        return None
    needle = search_text.lower()
    terms = tokenize_terms(needle, analyzer) if mode == "tokenized" else [needle]
    acc: Optional[Column] = None
    for term in terms:
        if not term:
            continue
        tf = _term_tf_column(term, schema)
        acc = tf if acc is None else (acc + tf)
    return acc


def _term_tf_column(term: str, schema: ProjectionSchema) -> Column:
    """Boost-weighted occurrence count of one term across all searchable
    columns — the per-term building block of both scoring profiles."""
    acc: Optional[Column] = None
    for path, boost in schema.searchable_path_boosts():
        array_root, remainder, _ = _resolve_path(path, schema)
        if array_root is not None:
            contrib = F.aggregate(
                F.coalesce(F.col(array_root), F.array()),
                F.lit(0.0),
                _sum_occurrences_lambda(remainder, term),
            )
        else:
            contrib = _occurrence_count(F.col(path), term)
        if boost != 1.0:
            contrib = contrib * F.lit(float(boost))
        acc = contrib if acc is None else (acc + contrib)
    return acc


def _field_term_pred(path: str, term: str, schema: ProjectionSchema) -> Column:
    """`term` substring-matches ONE searchable field (array fields via
    exists) — the single-field slice of _term_column, used for per-field
    document frequencies."""
    array_root, remainder, _ = _resolve_path(path, schema)
    if array_root is not None:
        return F.exists(F.col(array_root), _contains_lambda(remainder, term))
    return F.lower(F.col(path)).contains(term)


def _field_tf_column(path: str, term: str, schema: ProjectionSchema) -> Column:
    """Unboosted occurrence count of `term` in ONE searchable field —
    the per-field tf of the ES-parity bm25ish variant."""
    array_root, remainder, _ = _resolve_path(path, schema)
    if array_root is not None:
        return F.aggregate(
            F.coalesce(F.col(array_root), F.array()),
            F.lit(0.0),
            _sum_occurrences_lambda(remainder, term),
        )
    return _occurrence_count(F.col(path), term)


def _field_dl_column(path: str, schema: ProjectionSchema) -> Column:
    """Whitespace token count of ONE searchable field (array fields sum
    over elements) — the per-field dl of the ES-parity bm25ish variant."""
    array_root, remainder, _ = _resolve_path(path, schema)
    if array_root is not None:
        return F.aggregate(
            F.coalesce(F.col(array_root), F.array()),
            F.lit(0),
            _sum_token_count_lambda(remainder),
        )
    return F.size(analyzed_tokens(F.col(path), None))


def _doc_length_column(schema: ProjectionSchema) -> Column:
    """Whitespace token count over all searchable columns (array fields
    sum over elements) — the `dl` of the bm25ish saturation term."""
    acc: Optional[Column] = None
    for path in schema.searchable_paths():
        array_root, remainder, _ = _resolve_path(path, schema)
        if array_root is not None:
            c = F.aggregate(
                F.coalesce(F.col(array_root), F.array()),
                F.lit(0),
                _sum_token_count_lambda(remainder),
            )
        else:
            c = F.size(analyzed_tokens(F.col(path), None))
        acc = c if acc is None else (acc + c)
    return acc if acc is not None else F.lit(0)


def _sum_token_count_lambda(field: str):
    return lambda acc, x: acc + F.size(analyzed_tokens(x[field], None))


def bm25ish_score(
    df: DataFrame,
    search_text: str,
    schema: Optional[ProjectionSchema],
    mode: str = "substring",
    analyzer: str = "whitespace",
    k1: float = 1.2,
    b: float = 0.75,
    per_field: bool = False,
    combine: str = "best_fields",
) -> Optional[Column]:
    """BM25-grade scoring profile (ProjectionQuery.scoring_profile ==
    "bm25ish"): sum over terms of

        idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    with idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5)) — the shape the
    reference's ES backend scores with (BM25,
    ElasticSearchProjectionIndexer.cs:64-271).

    per_field=False (default): this engine's boost-weighted CROSS-FIELD
    TF stands in for ES's per-field TFs (hence "-ish" — a documented
    divergence like the "tf" profile itself).

    per_field=True: ES-parity field granularity — every searchable field
    scores its own BM25 (its own tf, dl, avgdl, and df over the index),
    multiplied by its schema boost exactly as ES applies field^boost;
    per term the field scores combine as `combine`:
      "best_fields" (ES multi_match default / dis_max): greatest().
      "most_fields": sum across fields.
    Terms still sum (operator-AND query).

    Corpus statistics (N, per-(field,)term document frequency, avg doc
    length) come from ONE aggregate pass over `df` — the projection
    index, as ES computes idf over the index, not the filtered result —
    collected as a single driver row; idf becomes a Python float
    constant, so the per-row plan is pure arithmetic.

    log() + float math => deliberately EXCLUDED from the hash-compared
    oracle entries; pinned instead by the pytest differential against
    pyeval.bm25ish_score_doc on identical stats."""
    if not search_text or search_text == "*" or schema is None:
        return None
    if combine not in ("best_fields", "most_fields"):
        raise ValueError(f"unknown combine {combine!r}")
    needle = search_text.lower()
    terms = [
        t
        for t in (
            tokenize_terms(needle, analyzer) if mode == "tokenized" else [needle]
        )
        if t
    ]
    if not terms:
        return None
    import math

    if per_field:
        fields = list(schema.searchable_path_boosts())
        dls = {p: _field_dl_column(p, schema) for p, _ in fields}
        stats_row = df.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.avg(dls[p]).alias(f"avgdl_{fi}") for fi, (p, _) in enumerate(fields)],
            *[
                F.sum(
                    F.when(
                        _field_term_pred(p, t, schema), F.lit(1)
                    ).otherwise(F.lit(0))
                ).alias(f"df_{fi}_{ti}")
                for fi, (p, _) in enumerate(fields)
                for ti, t in enumerate(terms)
            ],
        ).collect()[0]
        n = stats_row["n"] or 0
        acc: Optional[Column] = None
        for ti, term in enumerate(terms):
            field_scores = []
            for fi, (path, boost) in enumerate(fields):
                df_t = int(stats_row[f"df_{fi}_{ti}"] or 0)
                idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
                avgdl = float(stats_row[f"avgdl_{fi}"] or 1.0) or 1.0
                tf = _field_tf_column(path, term, schema)
                denom = tf + F.lit(k1) * (
                    F.lit(1.0 - b)
                    + F.lit(b) * dls[path].cast("double") / F.lit(avgdl)
                )
                s = F.lit(idf) * tf * F.lit(k1 + 1.0) / denom
                field_scores.append(s * F.lit(float(boost)) if boost != 1.0 else s)
            if combine == "best_fields" and len(field_scores) > 1:
                term_score = F.greatest(*field_scores)
            else:
                term_score = field_scores[0]
                for s in field_scores[1:]:
                    term_score = term_score + s
            acc = term_score if acc is None else (acc + term_score)
        return acc

    dl = _doc_length_column(schema)
    stats_row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(dl).alias("avgdl"),
        *[
            F.sum(
                F.when(_term_column(t, schema), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
    ).collect()[0]
    n = stats_row["n"] or 0
    avgdl = float(stats_row["avgdl"] or 1.0) or 1.0

    acc = None
    for i, term in enumerate(terms):
        df_t = int(stats_row[f"df_{i}"] or 0)
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        tf = _term_tf_column(term, schema)
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / F.lit(avgdl)
        )
        contrib = F.lit(idf) * tf * F.lit(k1 + 1.0) / denom
        acc = contrib if acc is None else (acc + contrib)
    return acc


def _sum_occurrences_lambda(field: str, term: str):
    # two-arg HOF lambda via closure (arity dispatch)
    return lambda acc, x: acc + _occurrence_count(x[field], term)


def highlight_column(
    path: str, search_text: str, mode: str = "substring"
) -> Column:
    """ES-style highlight: the field value with every matched term wrapped
    in <em>…</em> (case-insensitive); NULL when the field matches no term,
    so callers can omit it from the highlights map."""
    import re as _re

    needle = (search_text or "").lower()
    terms = [t for t in (needle.split() if mode == "tokenized" else [needle]) if t]
    if not terms:
        return F.lit(None).cast("string")
    pattern = "(?i)(" + "|".join(_re.escape(t) for t in terms) + ")"
    matched = None
    for t in terms:
        pred = F.lower(F.coalesce(F.col(path), F.lit(""))).contains(t)
        matched = pred if matched is None else (matched | pred)
    return F.when(
        matched, F.regexp_replace(F.col(path), pattern, "<em>$1</em>")
    )


# ---------------------------------------------------------------------------
# Sorting (O1-O3)
# ---------------------------------------------------------------------------

def sort_columns(
    order_by: list[SortInfo], schema: Optional[ProjectionSchema] = None
) -> list[Column]:
    cols = []
    for info in order_by:
        col = _sort_key_column(info, schema)
        # Postgres null ordering (the baseline backend): ASC -> NULLS LAST,
        # DESC -> NULLS FIRST. Spark's default is the opposite for ASC.
        cols.append(
            col.desc_nulls_first()
            if info.order == SortOrder.Desc
            else col.asc_nulls_last()
        )
    return cols


def _sort_key_column(info: SortInfo, schema: Optional[ProjectionSchema]) -> Column:
    array_root, remainder, _ = _resolve_path(info.key_path, schema)
    if array_root is None:
        # plain or nested-object path — native struct access (O2; the
        # reference's Postgres backend cannot do this, ES can —
        # ElasticSearchProjectionRepository.cs:630-700)
        return F.col(info.key_path)
    # O3: sort by an array element selected by EQUAL filters
    # (SortInfo.Filters — SortInfo.cs:14-35, ES nested-sort filter
    # ElasticSearchProjectionRepository.cs:655-687). Pick the matching
    # element's sort field; min over matches for determinism.
    def element_pred(x) -> Column:
        acc = F.lit(True)
        for sf in info.filters:
            head, _, rest = sf.filter_key_path.partition(".")
            if head != array_root or not rest:
                raise FilterTranslationError(
                    f"sorting filter path {sf.filter_key_path!r} must start "
                    f"with the sorted array {array_root!r}"
                )
            acc = acc & (x[rest] == _lit(sf.filter_value))
        return acc

    matching = F.filter(F.col(array_root), element_pred)
    return F.array_min(F.transform(matching, lambda x: x[remainder]))


# ---------------------------------------------------------------------------
# Query execution
# ---------------------------------------------------------------------------

def apply_query(
    df: DataFrame,
    query: ProjectionQuery,
    schema: Optional[ProjectionSchema] = None,
    partition_key: Optional[str] = None,
    partition_key_column: str = "PartitionKey",
) -> DataFrame:
    """Filters + search + sort + offset/limit as one declarative plan.

    Mirrors QueryInternal (PostgresqlProjectionRepository.cs:472-579) minus
    the count round-trip (see run_query). Top-level filters are ANDed
    (:889-907); partition key is an extra equality (:507-513) that also
    prunes physical partitions when the table is partitioned by it.
    """
    if partition_key is not None:
        df = df.where(F.col(partition_key_column) == partition_key)
    for f in query.filters:
        df = df.where(filter_to_column(f, schema))
    search = search_to_column(
        query.search_text, schema, query.search_mode, query.analyzer,
        query.synonyms, query.phrase_slop,
    )
    if search is not None:
        df = df.where(search)
    if query.order_by:
        df = df.orderBy(*sort_columns(query.order_by, schema))
    if query.offset:
        df = df.offset(query.offset)
    if query.limit is not None:
        df = df.limit(query.limit)
    return df


def suggest_frame(
    df: DataFrame,
    schema: ProjectionSchema,
    prefix: str,
    limit: int = 10,
) -> DataFrame | None:
    """Declarative plan behind suggest(): union of per-column prefix scans,
    distinct, ordered, limited. Returns None when no column is flagged
    use_for_suggestions (no scan is issued). Exposed as a DataFrame so it
    composes/oracles like every other operator."""
    cols = [
        p.name
        for p in schema.properties
        if p.use_for_suggestions and p.type == "String"
    ]
    if not cols:
        return None
    needle = prefix.lower()
    union = None
    for c in cols:
        part = (
            df.where(F.lower(F.col(c)).startswith(needle))
            .select(F.col(c).alias("suggestion"))
        )
        union = part if union is None else union.unionByName(part)
    return union.distinct().orderBy("suggestion").limit(limit)


def suggest(
    df: DataFrame,
    schema: ProjectionSchema,
    prefix: str,
    limit: int = 10,
) -> list[str]:
    """Prefix completions over columns flagged use_for_suggestions
    (UseForSuggestions — ProjectionDocumentPropertySchema.cs:26; the
    reference declares the flag, ES suggesters never shipped). Matching is
    case-insensitive prefix; results are distinct original values ordered
    lexicographically."""
    frame = suggest_frame(df, schema, prefix, limit)
    if frame is None:
        return []
    return [r["suggestion"] for r in frame.collect()]


def facet_frame(filtered: DataFrame, req: FacetInfoRequest) -> DataFrame:
    """Declarative facet plan for one request (A6): value facets =
    groupBy/count/sum ordered per `sort`; range facets = when-bucketing.
    Returns a DataFrame so callers can compose/oracle it; facet_stats
    collects it into the reference's result shape."""
    aggs = [F.count(F.lit(1)).alias("count")]
    if req.sum_by_field:
        aggs.append(F.sum(F.col(req.sum_by_field)).alias("sum_by_value"))
    if req.ranges:
        edges = sorted(req.ranges)
        col = F.col(req.facet_name)
        # bucket INDEX via when-chain, then lo/hi as real columns joined by
        # index — never re-parsed out of the display label (labels like
        # '-10-0' for negative edges are ambiguous to split)
        idx_expr = None
        for i, (lo, hi) in enumerate(zip(edges, edges[1:])):
            cond = (col >= F.lit(lo)) & (col < F.lit(hi))
            idx_expr = (
                F.when(cond, i) if idx_expr is None else idx_expr.when(cond, i)
            )
        lo_arr = F.array(*[F.lit(float(lo)) for lo in edges[:-1]])
        hi_arr = F.array(*[F.lit(float(hi)) for hi in edges[1:]])
        lbl_arr = F.array(
            *[F.lit(f"{lo}-{hi}") for lo, hi in zip(edges, edges[1:])]
        )
        grouped = (
            filtered.withColumn("bucket_idx", idx_expr)
            .where(F.col("bucket_idx").isNotNull())
            .groupBy("bucket_idx")
            .agg(*aggs)
            .select(
                F.element_at(lbl_arr, F.col("bucket_idx") + 1).alias("value"),
                F.element_at(lo_arr, F.col("bucket_idx") + 1).alias("range_from"),
                F.element_at(hi_arr, F.col("bucket_idx") + 1).alias("range_to"),
                "*",
            )
            .drop("bucket_idx")
        )
        if req.sort == "count":
            grouped = grouped.orderBy(F.desc("count"), F.asc("range_from"))
        else:
            grouped = grouped.orderBy(F.asc("range_from"))
        return grouped.limit(req.count)
    grouped = filtered.groupBy(F.col(req.facet_name).alias("value")).agg(*aggs)
    if req.sort == "count":
        grouped = grouped.orderBy(F.desc("count"), F.asc("value"))
    else:
        grouped = grouped.orderBy(F.asc("value"))
    return grouped.limit(req.count)


def facet_stats(
    filtered: DataFrame, requests: list[FacetInfoRequest]
) -> dict[str, list[FacetStats]]:
    """Facet aggregation (A6) — declared but never implemented by any
    reference backend (FacetInfoRequest.cs:3-31, AzureSearch/OpenSearch are
    empty stubs); implemented properly here with groupBy/count/sum and
    range bucketing."""
    out: dict[str, list[FacetStats]] = {}
    for req in requests:
        rows = facet_frame(filtered, req).collect()
        if req.ranges:
            # lo/hi come back as real columns (facet_frame carries them);
            # row order already honors req.sort
            stats = [
                FacetStats(
                    value=row["value"],
                    count=row["count"],
                    range_from=row["range_from"],
                    range_to=row["range_to"],
                    sum_by_value=row["sum_by_value"] if req.sum_by_field else None,
                )
                for row in rows
            ]
        else:
            stats = [
                FacetStats(
                    value=row["value"],
                    count=row["count"],
                    sum_by_value=row["sum_by_value"] if req.sum_by_field else None,
                )
                for row in rows
            ]
        out[req.facet_name] = stats
    return out


def run_query(
    df: DataFrame,
    query: ProjectionQuery,
    schema: Optional[ProjectionSchema] = None,
    partition_key: Optional[str] = None,
    partition_key_column: str = "PartitionKey",
    include_debug_information: bool = False,
) -> ProjectionQueryResult[dict]:
    """Full query: records + total_records_found + facets.

    The reference issues two round-trips (COUNT + page —
    PostgresqlProjectionRepository.cs:531-579); here a sorted page, or one
    with no limit, is one Spark job: the total is a `DataFrame.observe`
    count placed under the page, filled by the page's own scan.  An
    unsorted limited page stops scanning early, so its total is a
    `count()` of its own.  Each facet request is one aggregation.

    `include_debug_information=True` mirrors the reference's opt-in flag
    (PostgresqlProjectionRepository.cs:619-652 interpolates the translated
    SQL + parameters into DebugInformation): the result carries the
    translated Column expressions — the engine's "backend query" — plus
    the resolved index name and paging, so a user debugging a filter tree
    sees exactly what ran.  Off by default: building the strings costs a
    py4j round-trip per expression."""
    debug: list[str] = []

    def note(label: str, value) -> None:
        # callables defer the str(Column) py4j round-trips to the
        # debug-on path — call sites must not format Columns eagerly
        if include_debug_information:
            if callable(value):
                value = value()
            debug.append(f"{label}: {value}")

    note(
        "index",
        schema.schema_name if schema is not None else "(anonymous dataframe)",
    )
    filtered = df
    if partition_key is not None:
        filtered = filtered.where(F.col(partition_key_column) == partition_key)
        note("partition_key", f"{partition_key_column} == {partition_key!r}")
    for f in query.filters:
        c = filter_to_column(f, schema)
        filtered = filtered.where(c)
        note("filter", c)
    search = search_to_column(
        query.search_text, schema, query.search_mode, query.analyzer,
        query.synonyms, query.phrase_slop,
    )
    if search is not None:
        filtered = filtered.where(search)
        note(
            "search",
            lambda: f"mode={query.search_mode} analyzer={query.analyzer} "
            f"text={query.search_text!r} -> {search}",
        )

    # relevance scoring (opt-in): "tf" is the deterministic oracle-exact
    # profile (score_column); "bm25ish" is the ES-parity float profile
    # (bm25ish_score — corpus stats over the INDEX frame `df`, the frame
    # before filters, as ES computes idf over the index);
    # "bm25ish_per_field" scores each field's own BM25 and dis_max-es
    # them per term (ES best_fields granularity)
    scoring = (
        query.scoring_profile in ("tf", "bm25ish", "bm25ish_per_field")
        and search is not None
    )
    if scoring:
        if query.scoring_profile in ("bm25ish", "bm25ish_per_field"):
            score = bm25ish_score(
                df, query.search_text, schema, query.search_mode,
                query.analyzer,
                per_field=query.scoring_profile == "bm25ish_per_field",
            )
        else:
            score = score_column(
                query.search_text, schema, query.search_mode, query.analyzer
            )
        if score is None:
            # A non-empty query can analyze to ZERO terms (e.g. "!!!"
            # under the standard analyzer): search_to_column already
            # pinned the empty result set via lit(False), but the score
            # builders return None — scoring an empty set is vacuous, so
            # a constant keeps the plan valid instead of raising from
            # withColumn(None).
            score = F.lit(0.0)
        filtered = filtered.withColumn("__score", score)
        note("scoring", query.scoring_profile)

    sorts = []
    if query.order_by:
        sorts = sort_columns(query.order_by, schema)
        note("order_by", lambda: ", ".join(str(s) for s in sorts))
    elif scoring:
        # ES semantics: no explicit sort -> by relevance, best first
        tiebreak = (
            [F.asc(schema.key_name)]
            if schema is not None and schema.key_name in filtered.columns
            else []
        )
        sorts = [F.desc("__score"), *tiebreak]
    # The total is an observed count in the page's own job wherever that
    # job reads every filtered row once.  A sorted, limited page is one
    # TakeOrderedAndProject job: the count goes under it.  A sort with no
    # limit shuffles by range, and the range partitioner samples its input
    # in a job of its own, where a count under the sort would run twice:
    # the count goes over it.  An unsorted limited page is a CollectLimit
    # that stops scanning early, so it gets no count.
    total_metric = f"query_total_{uuid.uuid4().hex}"
    counted_under_sort = bool(sorts) and query.limit is not None
    page = filtered
    if counted_under_sort:
        page = page.observe(total_metric, F.count(F.lit(1)))
    if sorts:
        page = page.orderBy(*sorts)
    if query.limit is None:
        page = page.observe(total_metric, F.count(F.lit(1)))
    if query.offset:
        page = page.offset(query.offset)
        note("offset", query.offset)
    if query.limit is not None:
        page = page.limit(query.limit)
        note("limit", query.limit)
    # P1/P3: hydrate only retrievable schema columns (IsRetrievable —
    # ProjectionDocumentPropertySchema.cs:22; filters/sorts above may
    # still use non-retrievable columns)
    hl_fields = [
        f
        for f in query.fields_to_highlight
        if search is not None
        and schema is not None
        and f in page.columns
        and (schema.property(f) is not None and schema.property(f).is_searchable)
    ]
    for f in hl_fields:
        page = page.withColumn(
            f"__hl_{f}",
            highlight_column(f, query.search_text, query.search_mode),
        )
    if schema is not None:
        retrievable = [
            p.name
            for p in schema.properties
            if p.is_retrievable and p.name in page.columns
        ]
        if retrievable:
            extras = (["__score"] if scoring else []) + [
                f"__hl_{f}" for f in hl_fields
            ]
            page = page.select(*retrievable, *extras)
    rows = page.collect()
    total = _observed_total(page, total_metric, counted_under_sort)
    if total is None:
        total = filtered.count()
    records = []
    for row in rows:
        doc = row.asDict(recursive=True)
        score = doc.pop("__score", 0.0) if scoring else 0.0
        highlights = {}
        for f in hl_fields:
            hl = doc.pop(f"__hl_{f}", None)
            if hl is not None:
                highlights[f] = [hl]
        records.append(
            QueryResultDocument(
                document=doc,
                score=float(score or 0.0),
                highlights=highlights,
            )
        )
    facets = (
        facet_stats(filtered, query.facet_info_to_return)
        if query.facet_info_to_return
        else {}
    )
    return ProjectionQueryResult(
        records=records,
        total_records_found=total,
        facets_stats=facets,
        debug_information="\n".join(debug),
    )


def _observed_total(
    page: DataFrame, name: str, counted_under_sort: bool
) -> Optional[int]:
    """The count observed as `name` by the page's job, or None where it
    may not hold every filtered row.  The optimizer drops the metric with
    its node when it replaces the plan by an empty relation (a search
    that analyzes to no terms, a limit of 0).  A count under the sort is
    trusted only under a TakeOrderedAndProject whose input has no order
    of its own: over input already in the page's order it takes only
    `limit` rows of each partition."""
    qe = page._jdf.queryExecution()
    observed = qe.observedMetrics()
    if not observed.contains(name):
        return None
    if counted_under_sort:
        plan = qe.executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        if plan.nodeName() == "ResultQueryStage":
            plan = plan.plan()
        if (
            plan.nodeName() != "TakeOrderedAndProject"
            or not plan.child().outputOrdering().isEmpty()
        ):
            return None
    return observed.apply(name).getLong(0)


def keyset_page(
    df: DataFrame,
    order_by: list,
    after: Optional[tuple],
    limit: int,
    schema: Optional[ProjectionSchema] = None,
) -> DataFrame:
    """Keyset (seek) pagination — the scale-correct replacement for
    offset/limit deep pages: page N+1 is "the first `limit` rows whose
    sort key is strictly after the last row of page N" instead of
    "skip N*limit rows".  `after` is the previous page's final row's
    values for the sort keys (None = first page); the LAST sort key
    must be a unique tiebreaker (the reference's own pagination
    contract — id-last — made explicit).

    Null DATA values are first-class (matching offset paging, which
    never loses them): the sort order is Postgres semantics (ASC →
    NULLS LAST, DESC → NULLS FIRST — `sort_columns` above), so the
    cursor predicate mirrors it.  On an ASC key, null sorts after
    every value, so "after non-null v" includes the null region
    (`c > v OR c IS NULL`) and "after null" is empty on that key; on a
    DESC key, null sorts first, so "after null" is `c IS NOT NULL` and
    "after non-null v" is plain `c < v`.  The equality chain that
    guards the next key is null-safe (`<=>`), so a cursor row with a
    null key steps through the null region by tiebreaker exactly like
    OFFSET tiling does.  Pass a cursor tuple element of None to mean
    "the previous page ended on a null-keyed row" — it is only
    ambiguous if the FULL key tuple is non-unique, which the
    tiebreaker contract already forbids.

    Why it matters at 100 TB: offset pagination SORTS AND DISCARDS
    offset rows on every page — page 10^4 of a 10^9-row sort is a
    full TopK of 10^4*limit rows per request.  The keyset predicate
    instead pushes to the scan (PushedFilters on the leading key), so
    every page costs the same as page one.  The lexicographic
    mixed-direction predicate is built as nested OR/AND — row-value
    syntax is SQL-only, but the expansion is exactly what engines
    desugar it to."""
    if len(order_by) < 1:
        raise ValueError("keyset_page needs at least one sort key")
    if after is not None:
        if len(after) != len(order_by):
            raise ValueError(
                f"`after` has {len(after)} values for {len(order_by)} "
                "sort keys — pass the previous page's value for EVERY key"
            )
        pred = None
        eq_chain = None
        for info, val in zip(order_by, after):
            c = _sort_key_column(info, schema)
            if info.order == SortOrder.Desc:
                # DESC → NULLS FIRST: nulls precede every value, so
                # "after null" = any non-null; "after v" excludes nulls.
                gt = c.isNotNull() if val is None else c < F.lit(val)
            else:
                # ASC → NULLS LAST: nulls follow every value, so
                # "after v" must include the null region; "after null"
                # is empty on this key (null is maximal) — the
                # tiebreaker term below still advances the cursor.
                gt = (
                    F.lit(False)
                    if val is None
                    else (c > F.lit(val)) | c.isNull()
                )
            term = gt if eq_chain is None else eq_chain & gt
            pred = term if pred is None else pred | term
            # Null-safe equality so a null-keyed cursor row guards the
            # next key exactly like OFFSET tiling's total order does.
            eq = c.eqNullSafe(F.lit(val))
            eq_chain = eq if eq_chain is None else eq_chain & eq
        df = df.where(pred)
    return df.orderBy(*sort_columns(order_by, schema)).limit(limit)
