"""Spark query runtime: AST → one plan → top-k, facets, sorts.

The reference's query lifecycle (SURVEY.md §3.1) is: parse JSON → Lucene
Query tree → per-segment doc-at-a-time scoring into a priority queue →
k-way merge across shards.  The Spark translation:

  parse JSON → AST (bzzz_spark.query.ast), validated and normalized
  → driver-side dictionary lookup of the query's terms (+ wildcard /
    fuzzy expansion against the dictionary — Lucene's rewrite(),
    expand_multiterm below)
  → ONE plan (query.evaluate.plan): the block-max kernel of a flat
    shape (query.wand), else the exhaustive numpy evaluator of any
    tree (query.evaluate) — the same plans the in-process tier runs
  → wand.run_plans: one term_id-pruned postings read, each segment's
    blocks (and, for match-all / ranges / custom scores, its docs)
    through the plan's kernel → per-segment top-k
  → TakeOrderedAndProject for the top-k priority-queue merge —
    exactly Lucene's PQ, distributed, with the deterministic
    (score desc, docid asc) tie-break the north rule requires.

Only CustomScore needs Catalyst: its expression is evaluated here
(plan_docs) and reaches the plan as a docs column.  Facets and sorts
join the plan's matched set (execute) with the docs table.
"""

from __future__ import annotations

import numbers
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast
from bzzz_spark.query.evaluate import plan, plan_exhaustive
from bzzz_spark.query.wand import _run_plan, top_page


def glob_to_regex(glob: str) -> str:
    """Lucene wildcard glob (* and ? only, per the reference's
    WildcardQuery — src/bzzz/queries/wildcard.clj:5-11) → anchored regex
    valid in BOTH Java regex (Spark rlike) and CPython re."""
    return (
        "^"
        + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in glob
        )
        + "$"
    )


def extra_field_map(index: BzzzIndex) -> dict[str, str]:
    """{field_name: analyzer} for the index's extra per-field indexes."""
    return dict(getattr(index.config, "extra_fields", ()) or ())


def term_key(index: BzzzIndex, field_name: str, value: str) -> str:
    """Dictionary key for a (field, value) term.  Default-field terms
    are bare tokens; extra-field terms are '<field>:<lower(value)>'
    (build-side keying in indexer.field_tokens_col)."""
    if field_name in extra_field_map(index):
        return f"{field_name}:{str(value).lower()}"
    return value


def _multiterm_cond(p, prefix: str = "") -> tuple:
    """Dictionary-side filter Column for one Wildcard/Fuzzy pattern —
    Lucene's multi-term rewrite pushed into the scan instead of a
    driver-side full-vocabulary collect (the reference rewrites against
    the term dictionary the same way: queries/wildcard.clj:5-11,
    fuzzy.clj:7-21).  At 10^8+ terms only the (small) expansion ever
    reaches the driver.  ``prefix`` scopes the pattern to an extra
    field's key space ('<field>:'); for the default field the condition
    excludes '<field>:' keys outright (text tokens cannot hold ':').

    Returns (cond, is_exact): is_exact=True means the Column matches
    EXACTLY the pattern's expansion set, so a SQL-side
    `orderBy(df desc).limit(max_expansion)` is already the correct
    TopTermsRewrite cut.  The one inexact case is fuzzy with
    transpositions=True: OSA distance has no Spark builtin, so the
    condition is the superset `levenshtein ≤ 2·max_edits` (one
    transposition = one OSA edit but two plain edits, so
    OSA ≤ e ⇒ lev ≤ 2e) and the exact OSA check runs driver-side on
    the collected candidates."""
    scope = (
        F.col("term").startswith(prefix)
        if prefix
        else ~F.col("term").contains(":")
    )
    if isinstance(p, ast.Wildcard):
        cond = scope & F.col("term").rlike(glob_to_regex(prefix + p.value))
        # leading-literal globs ("src1*", "err?r") get a cheap
        # startswith pre-filter ahead of the regex — Lucene's
        # PrefixQuery-style term-dictionary range pruning; the regex
        # stays authoritative for correctness
        lit_prefix = ""
        for ch in p.value:
            if ch in "*?":
                break
            lit_prefix += ch
        if lit_prefix:
            cond = F.col("term").startswith(prefix + lit_prefix) & cond
        return cond, True
    # Fuzzy: cheap codegen'd pre-filters (length band + prefix) ahead of
    # the levenshtein, mirroring Lucene's prefix_len discipline.  The
    # edit distance is measured on the bare token (field prefix
    # stripped), so field keys don't inflate it.
    bare = (
        F.col("term").substr(F.lit(len(prefix) + 1), F.length("term"))
        if prefix
        else F.col("term")
    )
    transpositions = getattr(p, "transpositions", False)
    # length band: every OSA/levenshtein op changes length by ≤1, so
    # the band is valid for both metrics
    lev_bound = p.max_edits * (2 if transpositions else 1)
    cond = scope & (
        F.abs(F.length(bare) - F.lit(len(p.value))) <= F.lit(p.max_edits)
    ) & (F.levenshtein(bare, F.lit(p.value)) <= F.lit(lev_bound))
    if p.prefix_len > 0:
        cond = bare.startswith(p.value[: p.prefix_len]) & cond
    return cond, not transpositions


def _pattern_prefix(index: BzzzIndex, p) -> str:
    return (
        f"{p.field_name}:" if p.field_name in extra_field_map(index) else ""
    )


def _exact_matches(p, prefix: str, cand: list[tuple]) -> list[tuple]:
    """Driver-side exact re-match of collected (term, df) candidates
    for one pattern (the authoritative check: the SQL cond may be a
    superset for transpositions, and candidates from other OR'd
    patterns flow through the shared collect).  Returns deduped
    (term, df) pairs in candidate order."""
    from bzzz_spark.oracle.pyoracle import fuzzy_distance_fn

    scoped = (
        ((t, t[len(prefix):], d) for t, d in cand if t.startswith(prefix))
        if prefix
        else ((t, t, d) for t, d in cand if ":" not in t)
    )
    if isinstance(p, ast.Wildcard):
        rx = re.compile(glob_to_regex(p.value))
        exp = [(t, d) for t, bare, d in scoped if rx.match(bare)]
    else:
        dist = fuzzy_distance_fn(getattr(p, "transpositions", False))
        # length band first: every levenshtein/OSA edit changes the
        # length by at most 1, and it keeps a full-vocabulary scan
        # (LocalIndex.expand_candidates) from paying the distance per term
        lo, hi = len(p.value) - p.max_edits, len(p.value) + p.max_edits
        exp = [
            (t, d)
            for t, bare, d in scoped
            if lo <= len(bare) <= hi
            and bare.startswith(p.value[: p.prefix_len])
            and dist(bare, p.value) <= p.max_edits
        ]
    return list(dict.fromkeys(exp))


def _cap_by_df(exp: list[tuple], cap: int | None) -> list[str]:
    """TopTermsRewrite cut: keep the top-cap terms by (df desc, term
    asc) — Lucene disciplines multi-term explosion the same way."""
    if cap is not None and len(exp) > cap:
        exp = sorted(exp, key=lambda td: (-td[1], td[0]))[:cap]
    return [t for t, _ in exp]


def _paged_expand(dictionary: DataFrame, p, prefix: str, cond) -> list[str]:
    """Exact-fill for the one inexact-cond case (fuzzy transpositions
    with a finite cap): keyset-paginated df-descending pages of the
    superset condition, OSA-checked driver-side, until `cap` exact
    matches are in hand or the superset is exhausted.  Each page is one
    bounded TakeOrderedAndProject job; page 1 almost always suffices
    (the lev≤2e superset of an OSA≤e ball is small)."""
    cap = int(p.max_expansion)
    page = max(64, 2 * cap)
    out: list[str] = []
    last = None
    while True:
        q = dictionary.filter(cond)
        if last is not None:
            last_df, last_term = last
            q = q.filter(
                (F.col("df") < last_df)
                | ((F.col("df") == last_df) & (F.col("term") > last_term))
            )
        rows = (
            q.orderBy(F.col("df").desc(), "term")
            .limit(page)
            .select("term", "df")
            .collect()
        )
        cand = [(r["term"], int(r["df"])) for r in rows]
        # pages arrive in (df desc, term asc) order, so the first `cap`
        # exact matches ARE the top-cap by that order
        out.extend(t for t, _ in _exact_matches(p, prefix, cand))
        if len(out) >= cap or len(rows) < page:
            break
        last = (rows[-1]["df"], rows[-1]["term"])
    return list(dict.fromkeys(out))[:cap]


def expand_multiterm(
    dictionary: DataFrame, patterns: list, prefixes: list[str] | None = None
) -> list[list[str]]:
    """Exact, max_expansion-capped dictionary expansions for ALL
    patterns — one per-pattern list, in as few Spark jobs as possible.

    Uncapped patterns and capped patterns with an exact SQL condition
    batch into ONE union job; a capped pattern's leg is pre-cut SQL-side
    with `orderBy(df desc, term).limit(cap)` (TopTermsRewrite), so the
    driver collect is bounded by Σ caps + the uncapped matches — never
    the vocabulary.  Fuzzy-with-transpositions + finite cap runs the
    keyset-paginated exact-fill instead (see _paged_expand)."""
    if not patterns:
        return []
    prefixes = prefixes or [""] * len(patterns)
    conds = [_multiterm_cond(p, pre) for p, pre in zip(patterns, prefixes)]
    legs = []
    paged: set[int] = set()
    for i, (p, (cond, is_exact)) in enumerate(zip(patterns, conds)):
        cap = getattr(p, "max_expansion", None)
        if cap is None:
            legs.append(dictionary.filter(cond).select("term", "df"))
        elif is_exact:
            legs.append(
                dictionary.filter(cond)
                .orderBy(F.col("df").desc(), "term")
                .limit(int(cap))
                .select("term", "df")
            )
        else:
            paged.add(i)
    cand: list[tuple] = []
    if legs:
        u = legs[0]
        for leg in legs[1:]:
            u = u.unionByName(leg)
        cand = [(r["term"], int(r["df"])) for r in u.collect()]
    out: list[list[str]] = []
    for i, (p, pre) in enumerate(zip(patterns, prefixes)):
        if i in paged:
            out.append(_paged_expand(dictionary, p, pre, conds[i][0]))
        else:
            out.append(
                _cap_by_df(
                    _exact_matches(p, pre, cand),
                    getattr(p, "max_expansion", None),
                )
            )
    return out


def indexed_fields(index: BzzzIndex) -> set[str]:
    """Field names the index can answer term-ish queries on: the AST's
    default field alias "text", the configured text column, and any
    extra indexed fields (multi-field indexes)."""
    cfg = index.config
    out = {"text", cfg.text_col}
    out.update(name for name, _ in getattr(cfg, "extra_fields", ()) or ())
    return out


def _column_type(index: BzzzIndex, col: str) -> str | None:
    """A docs column's type as a Range reads it: "number", "string",
    another type's name, or None when the docs lack the column — from
    the docs schema (a LocalIndex reads its parquet schema)."""
    if hasattr(index, "column_type"):
        return index.column_type(col)
    from pyspark.sql.types import NumericType, StringType

    fields = {f.name: f.dataType for f in index.docs.schema.fields}
    if col not in fields:
        return None
    t = fields[col]
    if isinstance(t, NumericType):
        return "number"
    return "string" if isinstance(t, StringType) else t.simpleString()


def _bound_fits(kind: str, v) -> bool:
    if kind == "number":
        return isinstance(v, numbers.Real) and not isinstance(v, bool)
    return kind == "string" and isinstance(v, str)


def validate_fields(index: BzzzIndex, node: ast.Query) -> None:
    """Unknown field names must raise, not silently score against the
    default text index (the reference carries per-field indexes —
    src/bzzz/index_store.clj:36-49 — so `role:assistant` means the role
    field; answering it from the text field would be a wrong answer).
    A Range must name a docs column, and its bounds must fit the
    column's type: numbers for a numeric column, strings for a string
    column; a column of any other type takes no bound."""
    known = indexed_fields(index)
    bad = sorted(
        {
            n.field_name
            for n in ast.iter_nodes(node)
            if isinstance(n, (ast.Term, ast.Wildcard, ast.Fuzzy, ast.Phrase))
            and n.field_name not in known
        }
    )
    if bad:
        raise ValueError(
            f"query references unindexed field(s) {bad}; "
            f"this index answers fields {sorted(known)}"
        )
    for n in ast.iter_nodes(node):
        if not isinstance(n, ast.Range):
            continue
        kind = _column_type(index, n.field_name)
        if kind is None:
            raise ValueError(
                f"range on field {n.field_name!r}: the docs have no such "
                "column"
            )
        for v in (n.min, n.max):
            if v is not None and not _bound_fits(kind, v):
                raise ValueError(
                    f"range on field {n.field_name!r} of column type "
                    f"{kind}: bound {v!r} does not fit (a number column "
                    "takes int/float bounds, a string column str bounds, "
                    "other columns none)"
                )


def execute(index: BzzzIndex, query: ast.Query | dict | str) -> DataFrame:
    """Full matched set (docid, score), no top-k cut: the query's
    exhaustive plan (query.evaluate), run by wand.run_plans."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    validate_fields(index, node)
    return _run_plan(index, plan_exhaustive(index, node, None))


def plan_docs(index: BzzzIndex, plans) -> DataFrame:
    """The docs frame the plans' kernels read (KernelPlan.doc_cols):
    docid, the stored columns named, and per CustomScore its score and
    a hit flag (null: not matched) — the inner query's matched set
    through execute, joined to the docs, and the expression evaluated
    by Spark SQL over the matched docs' columns and ``_score``."""
    custom = {c: n for p in plans for c, n in p.custom}
    docs = index.docs
    for col, node in custom.items():
        hit = F.col(f"{col}_hit")
        expr = F.expr(node.expression)
        score = (expr if node.replace else F.col("_score") * expr) * node.boost
        docs = docs.join(
            execute(index, node.query).select(
                "docid", F.col("score").alias("_score"),
                F.lit(1).alias(f"{col}_hit")),
            "docid", "left",
        ).withColumn(col, F.when(hit.isNotNull(), score.cast("double"))
                     ).drop("_score")
    cols = [c for p in plans for c in p.doc_cols]
    return docs.select(*dict.fromkeys(["docid", *cols]))


def search(
    index: BzzzIndex,
    query: ast.Query | dict | str,
    size: int = 20,
    page: int = 0,
    fields: list[str] | None = None,
    use_wand: bool = True,
) -> DataFrame:
    """Top-k search with the reference's paging semantics: PQ sized
    page*size+size, rows [page*size, (page+1)*size) returned
    (reference: index_search.clj:272-273,306; default size 20 per
    src/bzzz/const.clj:8).  Returns (docid, score [, fields...]) in
    (score desc, docid asc) order.

    Flat term/AND/OR shapes take the block-max pruned per-segment
    kernels (bzzz_spark.query.wand) by default; every other shape, and
    every shape with use_wand=False, the exhaustive plan
    (bzzz_spark.query.evaluate).  Both produce the same results
    (cross-checked in tests/test_wand.py)."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    validate_fields(index, node)
    # score-preserving flattening (Lucene Query#rewrite analog): nested-
    # but-semantically-flat Bool trees become kernel-servable shapes
    from bzzz_spark.query.rewrite import normalize

    node = normalize(node)
    k = page * size + size
    p = plan(index, node, k) if use_wand else plan_exhaustive(index, node, k)
    top = top_page(_run_plan(index, p), size, page)
    if fields:
        top = top.join(index.docs.select("docid", *fields), "docid", "left").orderBy(
            F.col("score").desc(), F.col("docid").asc()
        )
    return top


def total_hits(index: BzzzIndex, query) -> int:
    """Reference's totalHits (index_search.clj:287-288).

    A bare term's total is its document frequency, answered straight
    from the dictionary (memoized per snapshot — zero Spark jobs in
    serving mode), exactly as Lucene reads docFreq from the term
    dictionary; every other shape counts its matched set."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    if isinstance(node, ast.Term):
        validate_fields(index, node)
        key = term_key(index, node.field_name, node.value)
        meta = index.lookup_terms([key])
        return int(meta[key][1]) if key in meta else 0
    return execute(index, node).count()


def _sort_specs(sort: list) -> list[tuple[str, str, "F.Column"]]:
    """Sort spec items → (name, order, Column).  Spec items:
    "field" | ("field", "asc"|"desc") | {"expression": sql, "order": ...}."""
    out = []
    for s in sort:
        order = "asc"
        if isinstance(s, tuple):
            name, order = s
            c = F.col("_score") if name == "_score" else (
                F.col("docid") if name == "_doc" else F.col(name)
            )
        elif isinstance(s, dict):
            name = s.get("name", s["expression"])
            c = F.expr(s["expression"])
            order = s.get("order", "asc")
        else:
            name = s
            c = F.col("_score") if name == "_score" else (
                F.col("docid") if name == "_doc" else F.col(name)
            )
        out.append((name, order, c))
    return out


def _sort_exprs(sort: list) -> list:
    """Sort spec → orderBy columns (reference T3/T4: typed field sorts,
    `_score`/`_doc` specials, reverse flag, expression sorts —
    src/bzzz/expr.clj:12-59, index_search.clj:96-103).  A trailing docid
    tie-break keeps every ordering total and deterministic (the north
    rule's rank stability)."""
    cols = [
        c.desc_nulls_last() if order == "desc" else c.asc_nulls_last()
        for _, order, c in _sort_specs(sort)
    ]
    cols.append(F.col("docid").asc())
    return cols


def sorted_search(
    index: BzzzIndex,
    query: ast.Query | dict | str,
    sort: list,
    size: int = 20,
    page: int = 0,
    fields: list[str] | None = None,
    with_sort_values: bool = False,
) -> DataFrame:
    """Top-k by arbitrary sort keys instead of score (reference T3/T4).
    The matched set is joined with stored doc columns so field and
    expression sorts can reference them; `_score` refers to the BM25
    score of the match.

    with_sort_values adds the reference's per-hit `_sort` metadata (T6,
    index_search.clj:246-250): array<struct<name, value, reverse>> with
    one entry per sort key (values stringified — the reference returns
    the typed sort values; a string is the portable common shape)."""
    matched = execute(index, query).withColumnRenamed("score", "_score")
    joined = matched.join(index.docs, "docid")
    exprs = _sort_exprs(sort)
    k = page * size + size
    top = joined.orderBy(*exprs).limit(k)
    if page > 0:
        w = Window.orderBy(*exprs)
        top = (
            top.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > page * size)
            .drop("__rn")
        )
    keep = ["docid", "_score"] + (fields or [])
    if with_sort_values:
        top = top.withColumn(
            "_sort",
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("name"),
                        c.cast("string").alias("value"),
                        F.lit(order == "desc").alias("reverse"),
                    )
                    for name, order, c in _sort_specs(sort)
                ]
            ),
        )
        keep = keep + ["_sort"]
    return top.select(*keep).withColumnRenamed("_score", "score")


def facet_counts(
    index: BzzzIndex, query, facet_field: str, size: int = 20
) -> DataFrame:
    """Facet counts over the matched set (reference F1: count docs per
    label within the matched set, top `size`, default 20 —
    index_search.clj:252-262,294-305).

    The reference's cross-shard facet merge is explicitly approximate
    (a label cut by one shard's limit undercounts —
    index_search.clj:186-204 'broken by design'); the Spark groupBy is
    global before the limit, so our counts are exact.  Deterministic
    tie-break: count desc, label asc."""
    matched = execute(index, query).select("docid")
    return (
        matched.join(index.docs.select("docid", facet_field), "docid")
        .groupBy(facet_field)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(facet_field).asc())
        .limit(size)
    )


def facet_counts_multi(
    index: BzzzIndex,
    query,
    fields: list[str],
    size: int = 20,
    use_analyzer: bool = False,
) -> DataFrame:
    """Multi-dimension facet counts in ONE pass over the matched set →
    (dim, label, cnt), top `size` per dim.

    The reference declares N facet dims at index time and counts them
    all in one FacetsCollector pass (index_store.clj:80-93,
    index_search.clj:294-305); this is the Spark shape of that: the
    matched→docs join and the groupBy happen once, dims are melted into
    (dim, label) structs JVM-side before the single shuffle.

    use_analyzer reproduces the reference's `use-analyzer` token
    faceting (index_store.clj:86-93): labels are the analyzed TOKENS of
    the stored column, counted per occurrence (a token twice in one doc
    counts twice — Lucene taxonomy ordinals are added per occurrence).
    Array-typed columns facet per element (the reference's multi-valued
    facets)."""
    from pyspark.sql.types import ArrayType

    from bzzz_spark.analysis.tokenizer import standard_tokenize

    matched = execute(index, query).select("docid")
    docs = index.docs
    dtypes = {f.name: f.dataType for f in docs.schema.fields}

    def tag(base, dim_name):
        # NB: the lambda must take exactly ONE parameter — F.transform
        # treats a second parameter as the element-index argument
        return F.transform(
            base,
            lambda t: F.struct(F.lit(dim_name).alias("dim"), t.alias("label")),
        )

    arrs = []
    for f in fields:
        if use_analyzer:
            base = standard_tokenize(F.col(f).cast("string"))
        elif isinstance(dtypes.get(f), ArrayType):
            base = F.transform(F.col(f), lambda t: t.cast("string"))
        else:
            base = F.array(F.col(f).cast("string"))
        arrs.append(tag(base, f))
    pairs = (
        matched.join(docs.select("docid", *fields), "docid")
        .select(F.explode(F.flatten(F.array(*arrs))).alias("p"))
        .select("p.dim", "p.label")
        .filter(F.col("label").isNotNull())
    )
    counts = pairs.groupBy("dim", "label").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("dim").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    return (
        counts.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= size)
        .drop("__rank")
        .orderBy("dim", F.col("cnt").desc(), "label")
    )
