"""Query AST + JSON-DSL parser.

The reference dispatches a JSON query map to per-operator parsers
(reference: src/bzzz/query.clj:31-48): a bare string becomes a
query-parser query, a map with several top-level keys becomes an
implicit AND.  We reproduce the DSL as plain dataclasses; the AST is
the engine's IR — planned for both runtimes by
:mod:`bzzz_spark.query.evaluate` and interpreted by the pure-Python
rank oracle (:mod:`bzzz_spark.oracle.pyoracle`), which is how
rank-parity is verified.

Pinned scoring semantics (deviations noted in each class):

- ``Term``: BM25(k1=1.2, b=0.75) × boost  (the reference scores TF-IDF
  via Lucene 4.10 DefaultSimilarity; the build spec pins BM25 — see
  bzzz_spark.query.scoring).
- ``Bool``: reference semantics (src/bzzz/queries/bool.clj:4-17) —
  MUST all match, MUST_NOT none, ≥ minimum-should-match of SHOULD;
  score = Σ must + Σ matched should (coord disabled, as in the
  reference which uses disableCoord=true).  With no MUST clauses, at
  least one SHOULD must match (Lucene's implicit msm=1).
- ``Range``/``MatchAll``/``Wildcard``/``Fuzzy``: constant score 1.0 ×
  boost (Lucene 4.10 multi-term queries under constant-score rewrite).
- ``DisMax``: max + tie_breaker × (sum − max)
  (src/bzzz/queries/dis_max.clj:5-13).
- ``RandomScore``: base + deterministic seeded hash-rand per doc — the
  reference is intentionally non-reproducible
  (src/bzzz/queries/random_score.clj:15-22); we pin a portable
  md5-based rand so oracle comparison is exact.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field


class Query:
    """Marker base class."""


@dataclass
class Term(Query):
    value: str
    field_name: str = "text"
    boost: float = 1.0


@dataclass
class Bool(Query):
    must: list[Query] = field(default_factory=list)
    must_not: list[Query] = field(default_factory=list)
    should: list[Query] = field(default_factory=list)
    minimum_should_match: int = 0
    boost: float = 1.0

    def effective_msm(self) -> int:
        if self.minimum_should_match > 0:
            return self.minimum_should_match
        return 0 if self.must else (1 if self.should else 0)


@dataclass
class Filtered(Query):
    query: Query
    filter: Query
    boost: float = 1.0


@dataclass
class Range(Query):
    field_name: str
    min: float | None = None
    max: float | None = None
    min_inclusive: bool = True
    max_inclusive: bool = True
    boost: float = 1.0


@dataclass
class MatchAll(Query):
    boost: float = 1.0


@dataclass
class ConstantScore(Query):
    query: Query
    boost: float = 1.0


@dataclass
class DisMax(Query):
    queries: list[Query]
    tie_breaker: float = 0.0
    boost: float = 1.0


@dataclass
class Phrase(Query):
    """Exact phrase — all terms at consecutive token positions (Lucene
    PhraseQuery, produced by the classic parser's quoted strings —
    reference src/bzzz/queries/query_parser.clj:6-17).  Scoring pinned
    to Lucene's PhraseWeight model: score = (Σ idf(term_i)) ×
    tfc(phrase_freq, dl) × boost, where phrase_freq counts the
    occurrences.  Requires an index built with store_positions=True.

    slop > 0: Lucene SloppyPhraseScorer semantics (unordered) — terms
    may appear in any order; a match exists when the adjusted positions
    (pos - phrase_offset) can be brought within `slop` of each other,
    and each match is weighted sloppyFreq = 1/(1 + matchLength)
    (Lucene 4.10 Similarity.sloppyFreq — reversed "b a" matches
    "a b"~2 with matchLength 2).  phrase_freq is the sum of those
    weights from the greedy PQ walk of SloppyPhraseScorer.phraseFreq,
    reimplemented vectorized in bzzz_spark.query.phrase and
    independently in the pure-Python oracle.  Repeated terms are
    supported in both modes: exact via the start-position group count,
    sloppy via Lucene's repeating-terms collision groups
    (bzzz_spark.query.phrase_repeats — two legs of one term never
    claim the same token occurrence)."""

    terms: list[str]
    field_name: str = "text"
    boost: float = 1.0
    slop: int = 0


@dataclass
class Wildcard(Query):
    """Glob with * and ? (Lucene WildcardQuery).  ``max_expansion``
    bounds the dictionary expansion to the top-N matching terms by
    (df desc, term asc) — Lucene's TopTermsRewrite discipline; None =
    unbounded (the reference's default, max-expansion
    Integer/MAX_VALUE, fuzzy.clj:9-18 — wildcard.clj has no cap at
    all).  At web-scale vocabularies pass a finite cap: an unbounded
    ``*e*`` against 10^8 terms collects millions of strings."""

    value: str  # glob with * and ?
    field_name: str = "text"
    boost: float = 1.0
    max_expansion: int | None = None


@dataclass
class Fuzzy(Query):
    """Levenshtein fuzzy term (reference fuzzy.clj:9-18).
    ``transpositions=True`` counts an adjacent-character swap as ONE
    edit (Damerau / optimal-string-alignment, Lucene's
    FuzzyQuery(transpositions=true)); the reference's default is
    false, ours too.  ``max_expansion`` as in Wildcard (reference
    max-expansion, default Integer/MAX_VALUE → None)."""

    value: str
    max_edits: int = 2
    prefix_len: int = 0
    field_name: str = "text"
    boost: float = 1.0
    max_expansion: int | None = None
    transpositions: bool = False


@dataclass
class NoZeroScore(Query):
    query: Query


@dataclass
class NoNorm(Query):
    """Disable length normalization in the subtree's scoring (reference
    Q16: src/bzzz/queries/no_norm.clj:5-12, NoNormQuery.java:31 —
    normalize(1, boost)).  In BM25 terms: b = 0 for Terms below here."""

    query: Query


@dataclass
class RandomScore(Query):
    query: Query
    base: float = 0.0
    seed: int = 0


@dataclass
class CustomScore(Query):
    """Multiply/replace the subquery score with a SQL expression over doc
    columns + `_score` (reference Q12/Q13: JS expression over FieldCache
    bindings, src/bzzz/queries/custom_score.clj + expr_score.clj).
    ``expression`` is a Spark-SQL expression string evaluated over the
    matched docs joined with their stored columns — registered code, not
    eval of user closures."""

    query: Query
    expression: str
    replace: bool = False  # False: multiply (custom-score); True: replace (expr-score)
    boost: float = 1.0


def _parse_max_expansion(body: dict) -> int | None:
    """Reference `max-expansion` (fuzzy.clj:11: default
    Integer/MAX_VALUE = unbounded).  Values ≥ 2^31-1 normalize to None
    so DSL round-trips compare equal to the dataclass default."""
    v = body.get("max-expansion")
    if v is None or int(v) >= (1 << 31) - 1:
        return None
    if int(v) <= 0:
        raise ValueError(f"max-expansion must be positive, got {v}")
    return int(v)


def rand_score(docid: int, seed: int) -> float:
    """Portable deterministic per-doc random in [0,1) — md5-based so the
    evaluator (query.evaluate), the Python oracle, and DuckDB SQL all
    agree."""
    h = hashlib.md5(f"{seed}:{docid}".encode()).hexdigest()[:8]
    return int(h, 16) / float(1 << 32)


# ------------------------------------------------------------------ DSL parse


def parse_query(spec) -> Query:
    """JSON DSL → AST, reference dispatch semantics (query.clj:31-48)."""
    if isinstance(spec, str):
        from bzzz_spark.query.parser import parse_query_string

        return parse_query_string(spec)
    if not isinstance(spec, dict):
        raise ValueError(f"bad query spec: {spec!r}")
    if len(spec) > 1:  # implicit AND of multi-key map (query.clj:36-40)
        return Bool(must=[parse_query({k: v}) for k, v in spec.items()])
    [(kind, body)] = spec.items()
    if kind == "term":
        return Term(
            value=body["value"],
            field_name=body.get("field", "text"),
            boost=body.get("boost", 1.0),
        )
    if kind == "bool":
        return Bool(
            must=[parse_query(q) for q in body.get("must", [])],
            must_not=[parse_query(q) for q in body.get("must-not", [])],
            should=[parse_query(q) for q in body.get("should", [])],
            minimum_should_match=body.get("minimum-should-match", 0),
            boost=body.get("boost", 1.0),
        )
    if kind == "filtered":
        return Filtered(
            query=parse_query(body["query"]),
            filter=parse_query(body["filter"]),
            boost=body.get("boost", 1.0),
        )
    if kind == "range":
        return Range(
            field_name=body["field"],
            min=body.get("min"),
            max=body.get("max"),
            min_inclusive=body.get("min-inclusive", True),
            max_inclusive=body.get("max-inclusive", True),
            boost=body.get("boost", 1.0),
        )
    if kind == "match-all":
        return MatchAll(boost=(body or {}).get("boost", 1.0))
    if kind == "constant-score":
        return ConstantScore(
            query=parse_query(body["query"]), boost=body.get("boost", 1.0)
        )
    if kind == "dis-max":
        return DisMax(
            queries=[parse_query(q) for q in body["queries"]],
            tie_breaker=body.get("tie-breaker", 0.0),
            boost=body.get("boost", 1.0),
        )
    if kind == "phrase":
        if "terms" in body:
            terms = list(body["terms"])
        else:
            from bzzz_spark.analysis.tokenizer import py_tokenize

            terms = py_tokenize(body["value"])
        return Phrase(
            terms=terms,
            field_name=body.get("field", "text"),
            boost=body.get("boost", 1.0),
            slop=int(body.get("slop", 0)),
        )
    if kind == "wildcard":
        return Wildcard(
            value=body["value"],
            field_name=body.get("field", "text"),
            boost=body.get("boost", 1.0),
            max_expansion=_parse_max_expansion(body),
        )
    if kind == "fuzzy":
        return Fuzzy(
            value=body["value"],
            max_edits=body.get("max-edits", 2),
            prefix_len=body.get("prefix-len", 0),
            field_name=body.get("field", "text"),
            boost=body.get("boost", 1.0),
            max_expansion=_parse_max_expansion(body),
            transpositions=bool(body.get("transpositions", False)),
        )
    if kind == "no-zero-score":
        return NoZeroScore(query=parse_query(body["query"]))
    if kind == "no-norm":
        return NoNorm(query=parse_query(body["query"]))
    if kind == "random-score":
        return RandomScore(
            query=parse_query(body["query"]),
            base=body.get("base", 0.0),
            seed=body.get("seed", 0),
        )
    if kind == "custom-score":
        return CustomScore(
            query=parse_query(body["query"]),
            expression=body["expression"],
            replace=False,
            boost=body.get("boost", 1.0),
        )
    if kind == "expr-score":
        return CustomScore(
            query=parse_query(body["query"]),
            expression=body["expression"],
            replace=True,
            boost=body.get("boost", 1.0),
        )
    if kind == "query-parser":
        from bzzz_spark.query.parser import parse_query_string

        return parse_query_string(
            body["query"],
            default_field=body.get("default-field", "text"),
            default_operator=body.get("default-operator", "and"),
        )
    raise ValueError(f"unknown query kind {kind!r}")


def iter_nodes(node: Query):
    """Pre-order walk over a query tree — the analog of the reference's
    query-tree post-walk (Helper.java:43-63).  Every tree consumer
    (term prefetch, field validation, multi-term pattern collection)
    shares this one traversal."""
    yield node
    if isinstance(node, Bool):
        for c in (*node.must, *node.must_not, *node.should):
            yield from iter_nodes(c)
    elif isinstance(node, Filtered):
        yield from iter_nodes(node.query)
        yield from iter_nodes(node.filter)
    elif isinstance(
        node, (ConstantScore, NoZeroScore, NoNorm, RandomScore, CustomScore)
    ):
        yield from iter_nodes(node.query)
    elif isinstance(node, DisMax):
        for c in node.queries:
            yield from iter_nodes(c)


def collect_terms(node: Query) -> list[str]:
    """All Term/Phrase values under a node (dictionary-lookup prefetch)."""
    out: list[str] = []
    for n in iter_nodes(node):
        if isinstance(n, Term):
            out.append(n.value)
        elif isinstance(n, Phrase):
            out.extend(n.terms)
    return out
