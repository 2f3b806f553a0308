"""Query compiler — free-text query + filters + boosts → clause tree.

Replicates ``build_query`` at
/root/reference/crates/spyglass-searcher/src/query.rs:58-181 exactly:

1. Tokenize the query per-field with that field's analyzer (query.rs:237-259):
   ``content`` via spyglass_tokenizer_en, ``title`` via the default tokenizer.
2. ≥2 content terms → Should PhraseQuery(content terms w/ positions, slop)
   boosted 1.5 × len (query.rs:80-85; defaults query.rs:46-56);
   slop = clamp(last_position − 2, 0, 3) (query.rs:24-33).
3. ≥2 title terms → Should Phrase boosted 2.5 × len (query.rs:87-94).
4. Every content term → Should Term boost 1.0; title term → boost 2.0
   (query.rs:96-102).
5. Boost clauses appended as Should terms: DocId/Url default 3.0, Tag 1.5
   (lib.rs:38-51, query.rs:107-134).
6. The Should group is wrapped as a single Must ("must hit at least one",
   query.rs:137); filters appended as Must terms with boost 0.0
   (query.rs:139-178); Favorite{required} → Must/Should boost 3.0
   (query.rs:145-158).

``build_document_query`` (query.rs:184-231) compiles url/id OR-lists and
tag include/exclude filters, all boost 0.0 (unscored match set).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from ..analysis.analyzer import tokenize_default, tokenize_en
from .scoring import phrase_slop

CONTENT_BOOST = 1.0
CONTENT_PHRASE_BOOST = 1.5
TITLE_BOOST = 2.0
TITLE_PHRASE_BOOST = 2.5
DEFAULT_BOOST_DOCID = 3.0
DEFAULT_BOOST_URL = 3.0
DEFAULT_BOOST_TAG = 1.5
DEFAULT_BOOST_FAVORITE = 3.0


@dataclass(frozen=True)
class Clause:
    kind: str  # 'term' | 'phrase'
    field: str
    terms: tuple[str, ...]
    positions: tuple[int, ...]  # query positions (phrase offsets)
    boost: float
    slop: int = 0

    @property
    def scoring(self) -> bool:
        return self.boost > 0.0


@dataclass
class CompiledQuery:
    """``should_group`` is the inner Should group (wrapped in a Must).
    ``extra_groups`` are additional Must(Should(...)) OR-lists (document
    queries, query.rs:195-215). ``musts``/``should_extra``/``must_nots``
    are top-level single clauses."""

    should_group: list[Clause] = dc_field(default_factory=list)
    extra_groups: list[list[Clause]] = dc_field(default_factory=list)
    musts: list[Clause] = dc_field(default_factory=list)
    should_extra: list[Clause] = dc_field(default_factory=list)
    must_nots: list[Clause] = dc_field(default_factory=list)
    # date-range Must filters on fast fields: (field, ge_µs|None, le_µs|None)
    # — the tantivy RangeQuery-on-fast-field analog (schema.rs:179-195)
    range_musts: list[tuple] = dc_field(default_factory=list)
    term_count: int = 0
    # Should-group score combiner: 'sum' (tantivy/Lucene BooleanQuery —
    # the reference shape) or 'dismax' (Lucene DisjunctionMaxQuery,
    # public Lucene/ES surface: best matching clause + tie_breaker ×
    # the other matching clauses' scores — the ES multi_match
    # best_fields semantics). Applies to ``should_group``
    # only; scoring Musts and favorite should-extras still ADD on top,
    # mirroring Must(DisMax(disjuncts)) + extra clauses. float32 op
    # order: m = running max, s = clause-order sum, score =
    # m + tie·(s − m), each op float32 (engine and oracle identical).
    combiner: str = "sum"
    tie_breaker: float = 0.0  # dismax only; Lucene requires 0 ≤ tie ≤ 1
    # Lucene BooleanQuery.Builder#setMinimumNumberShouldMatch (public
    # Lucene/ES surface — ES minimum_should_match): a doc is a candidate
    # only when at least this many DISTINCT should_group clauses match.
    # 0/1 are the reference shape (the Must-wrap already requires ≥1);
    # m > len(should_group) matches nothing (Lucene semantics). Scoring
    # is unchanged — matching clauses combine exactly as before (sum or
    # dismax); msm only gates candidacy.
    min_should_match: int = 0

    def all_clauses(self) -> list[Clause]:
        out = self.should_group + self.musts + self.should_extra + self.must_nots
        for g in self.extra_groups:
            out.extend(g)
        return out

    def term_keys(self) -> set[tuple[str, str]]:
        return {(c.field, t) for c in self.all_clauses() for t in c.terms}


def resolve_min_should_match(spec, n_should: int) -> int:
    """ES ``minimum_should_match`` spec resolution (public ES surface;
    Lucene's BooleanQuery itself takes only the int). Accepted forms:

    - positive int / digit string ``N`` — require N clauses;
    - negative int ``-N`` — require ``n_should - N`` (at most N of the
      optional clauses may be missing);
    - ``'N%'`` — ``floor(n_should * N / 100)`` (the documented
      round-DOWN: "the percentage is rounded down to the nearest
      integer");
    - ``'-N%'`` — at most that percentage missing:
      ``n_should - floor(n_should * N / 100)``.

    Combination / conditional forms (``'3<90%'``) are not supported and
    raise. Resolved values < 0 clamp to 0 (the plain-union reference
    shape); values > n_should are returned as-is and match nothing
    (Lucene semantics, preserved by the gate)."""
    if isinstance(spec, bool):
        raise ValueError(f"min_should_match must be int or str: {spec!r}")
    if isinstance(spec, int):
        n = spec
    else:
        s = str(spec).strip()
        if "<" in s:
            raise ValueError(
                f"conditional min_should_match forms are not supported: "
                f"{spec!r}")
        try:
            if s.endswith("%"):
                pct = int(s[:-1])
                part = (abs(pct) * n_should) // 100
                n = part if pct >= 0 else n_should - part
            else:
                n = int(s)
        except ValueError:
            raise ValueError(f"invalid min_should_match spec: {spec!r}")
    if not isinstance(spec, str) or not spec.strip().endswith("%"):
        if n < 0:
            n = n_should + n
    return max(0, n)


def term_match_pairs(cq: CompiledQuery, msm: int, who: str) -> set:
    """Exactness rules of a match set read from term postings alone (no
    positions), shared by the unscored aggregations
    (``SearchEngine._match_doc_meta``) and the percolator. A phrase
    match is a SUBSET of each member term's postings, so the term-posting
    match set is exact only when every phrase Should is absorbed by a
    same-field term clause of the Should union (compile_query pairs each
    phrase with its terms; a parsed standalone '"a b"' is not
    absorbable), no phrase Should sits under min_should_match >= 2
    (positions decide whether the clause matched), and every Must,
    MustNot and extra-group clause is a term clause. Raises ValueError
    naming ``who`` otherwise; returns the Should group's (field, term)
    union."""
    union_pairs = {(c.field, t) for c in cq.should_group
                   if c.kind == "term" for t in c.terms}
    for c in cq.should_group:
        if c.kind != "phrase":
            continue
        if msm > 1:
            raise ValueError(
                f"{who}: a phrase Should under min_should_match >= 2 "
                "cannot be term-matched exactly (positions decide whether "
                "the clause matched); use a scored search instead")
        if not any((c.field, t) in union_pairs for t in c.terms):
            raise ValueError(
                f"{who}: a standalone phrase Should cannot be term-matched "
                "exactly (its term-posting union over-counts); use a "
                "scored search instead")
    for grp_name, clauses in (("extra_group", [c for g in cq.extra_groups
                                               for c in g]),
                              ("must", cq.musts),
                              ("must_not", cq.must_nots)):
        for c in clauses:
            if c.kind != "term":
                raise ValueError(
                    f"{who}: a phrase {grp_name} cannot be term-matched "
                    "exactly; use a scored search instead")
    return union_pairs


def _term(field: str, term: str, boost: float) -> Clause:
    return Clause("term", field, (term,), (0,), boost)


def _phrase(field: str, toks: list[tuple[int, str]], boost: float) -> Clause:
    slop = phrase_slop(toks[-1][0]) if toks else 0
    return Clause("phrase", field, tuple(t for _, t in toks),
                  tuple(p for p, _ in toks), boost, slop)


def compile_query(query_string: str, filters=(), boosts=()) -> CompiledQuery:
    """filters/boosts: iterables of (kind, value) with kind in
    {'tag', 'url', 'docid', 'favorite', 'favorite_required'}; tag values are
    int tag ids. Optional 3-tuples (kind, value, boost) override defaults."""
    cq = CompiledQuery()
    content_toks = tokenize_en(query_string)
    title_toks = tokenize_default(query_string)
    cq.term_count = len(content_toks)

    if len(content_toks) > 1:
        cq.should_group.append(
            _phrase("content", content_toks, CONTENT_PHRASE_BOOST * len(content_toks)))
    if len(title_toks) > 1:
        cq.should_group.append(
            _phrase("title", title_toks, TITLE_PHRASE_BOOST * len(title_toks)))
    for _, term in content_toks:
        cq.should_group.append(_term("content", term, CONTENT_BOOST))
    for _, term in title_toks:
        cq.should_group.append(_term("title", term, TITLE_BOOST))

    for spec in boosts:
        kind, value, *rest = spec
        if kind == "favorite" or kind == "favorite_required":
            continue  # only considered in filters (query.rs:113-114)
        boost = rest[0] if rest else {
            "docid": DEFAULT_BOOST_DOCID, "url": DEFAULT_BOOST_URL,
            "tag": DEFAULT_BOOST_TAG}.get(kind, 0.0)
        if kind.startswith("custom:"):
            # Boost::CustomField{field_name, value} — default boost 0.0
            # (lib.rs:49-51, query.rs:124-130)
            field = kind.split(":", 1)[1]
        else:
            field = {"docid": "id", "url": "url", "tag": "tags"}[kind]
        cq.should_group.append(_term(field, str(value), boost))

    for spec in filters:
        kind, value, *rest = spec
        if kind.endswith("_ge") or kind.endswith("_le"):
            # date-range filter on a fast field, e.g. ("lastmodified_ge", µs)
            field, op = kind.rsplit("_", 1)
            cq.range_musts.append((field, int(value) if op == "ge" else None,
                                   int(value) if op == "le" else None))
            continue
        if kind in ("favorite", "favorite_required"):
            clause = _term("tags", str(value), rest[0] if rest else DEFAULT_BOOST_FAVORITE)
            if kind == "favorite_required":
                cq.musts.append(clause)
            else:
                cq.should_extra.append(clause)
            continue
        field = (kind.split(":", 1)[1] if kind.startswith("custom:")
                 else {"docid": "id", "url": "url", "tag": "tags"}[kind])
        cq.musts.append(_term(field, str(value), 0.0))

    return cq


def compile_expanded(per_field_terms: dict[str, list[str]],
                     filters=(), boosts=()) -> CompiledQuery:
    """Multi-term (prefix/fuzzy) rewrite: the expanded dictionary terms
    become ordinary Should term clauses with the field's standard boost
    (content 1.0 / title 2.0 — query.rs:96-102), wrapped in the same
    Must as a free-text query; filters/boosts compile identically to
    ``compile_query``. Clause order is the contract (float32 summation
    is order-sensitive): fields in content→title order, each field's
    terms in the expansion ranking (df DESC, term ASC — expand.py)."""
    cq = CompiledQuery()
    field_boost = {"content": CONTENT_BOOST, "title": TITLE_BOOST}
    for field in ("content", "title"):
        for term in per_field_terms.get(field, ()):
            cq.should_group.append(_term(field, term, field_boost[field]))
    cq.term_count = len(per_field_terms.get("content", ()))
    base = compile_query("", filters=filters, boosts=boosts)
    cq.should_group.extend(base.should_group)
    cq.musts, cq.should_extra = base.musts, base.should_extra
    cq.must_nots, cq.range_musts = base.must_nots, base.range_musts
    return cq


def split_phrase_prefix(query_string: str) -> tuple[str, str]:
    """Search-as-you-type split: the last whitespace token is the
    incomplete prefix, everything before it the fixed phrase text.
    ``'parse huge po'`` → ``('parse huge', 'po')``; a single token has
    no fixed part."""
    parts = query_string.rsplit(None, 1)
    if len(parts) == 2:
        return parts[0], parts[1]
    return "", (parts[0] if parts else "")


def compile_phrase_prefix(fixed_text: str,
                          per_field_expansions: dict[str, list[str]],
                          filters=(), boosts=()) -> CompiledQuery:
    """tantivy PhrasePrefixQuery rewrite (search-as-you-type; public
    tantivy surface — the reference's query.rs todo family): the
    trailing prefix expands against the dictionary and each expansion
    COMPLETES the phrase — a doc matches only where the fixed tokens
    are followed by an expansion at the next raw-token position (no
    bag-of-words fallback, unlike free-text compile). Should group =
    one phrase clause per expansion, fields in content→title order,
    expansions in the expansion ranking (df DESC, term ASC); float32
    clause-order summation is the contract, as everywhere.

    Positions: the analyzers assign pre-filter raw-token indexes
    (stopword holes preserved), so the expansion slot sits at
    ``len(_TOKEN_RE.findall(fixed_text))`` — the index the prefix token
    occupies in the full string — and per-field stopword holes in the
    fixed part keep their gaps. A field whose fixed part analyzes to
    ZERO tokens (all stopwords, or a bare prefix) degrades to plain
    term clauses — the Lucene/tantivy parser behavior when only the
    prefix survives. Phrase boost = field phrase boost × completed
    length; slop = the standard clamp of the last position
    (compile_query's convention)."""
    from ..analysis.analyzer import _TOKEN_RE

    cq = CompiledQuery()
    prefix_pos = len(_TOKEN_RE.findall(fixed_text))
    specs = (("content", tokenize_en, CONTENT_PHRASE_BOOST, CONTENT_BOOST),
             ("title", tokenize_default, TITLE_PHRASE_BOOST, TITLE_BOOST))
    for field, tokfn, pboost, tboost in specs:
        exps = per_field_expansions.get(field, ())
        if not exps:
            continue
        fixed = tokfn(fixed_text)
        if fixed:
            boost = pboost * (len(fixed) + 1)
            for e in exps:
                cq.should_group.append(
                    _phrase(field, fixed + [(prefix_pos, e)], boost))
        else:
            for e in exps:
                cq.should_group.append(_term(field, e, tboost))
    cq.term_count = len(tokenize_en(fixed_text)) + 1
    base = compile_query("", filters=filters, boosts=boosts)
    cq.should_group.extend(base.should_group)
    cq.musts, cq.should_extra = base.musts, base.should_extra
    cq.must_nots, cq.range_musts = base.must_nots, base.range_musts
    return cq


def compile_document_query(urls=(), ids=(), tags=(), exclude_tags=()) -> CompiledQuery:
    """query.rs:184-231 — unscored document-set query: Must(Should(urls)),
    Must(Should(ids)), Must(tag) each, MustNot(tag) each."""
    cq = CompiledQuery()
    if urls:
        cq.extra_groups.append([_term("url", u, 0.0) for u in urls])
    if ids:
        cq.extra_groups.append([_term("id", i, 0.0) for i in ids])
    for t in tags:
        cq.musts.append(_term("tags", str(t), 0.0))
    for t in exclude_tags:
        cq.must_nots.append(_term("tags", str(t), 0.0))
    return cq
