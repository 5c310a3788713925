"""Query front door: a lucene-lite string syntax → AST → two compilers.

The reference exposes its matching surface through parsed query schemes
(`addresses/impl/AddressesSchemesParserImpl.java:25-154`) and pluggable
matchers (`addresses/impl/NamesMatcherImpl.java:18-46`). This module is
that surface for the engine: one grammar covering every serving primitive
the index family implements —

    customer AND (filter OR group)      boolean operators, parentheses
    spark join merge                    implicit AND on adjacency
    NOT group, -group                   negation (AND-NOT semantics)
    "key order"                         exact token phrase
    "key order value"~3                 unordered NEAR within distance 3
    grup~1                              edit-distance fuzzy (gram index)
    filt*                               prefix wildcard (dictionary seek)
    src:spark, body:"key order"         field scoping (fielded compilers)

and two compilers with identical semantics:

- :func:`match_layout` — serves the query from the TERM-PARTITIONED
  layout. All term-class leaves (plain + fuzzy expansions) ride ONE
  bucket/min-max-pruned scan; phrase and NEAR leaves batch through the
  positional-layout verifiers (one call per shape). Every leaf emits
  (docid, bit) rows; a single ``groupBy(docid).agg(bit_or)`` builds a
  per-doc presence MASK, and the whole boolean tree evaluates as ONE JVM
  column expression over that mask — arbitrary AND/OR/NOT nesting costs
  one shuffle bounded by Σ df(leaf terms), with no joins and no
  per-operator passes.
- :func:`match_scan` — the corpus-scan twin: the same tree compiled to a
  single boolean Column over the analyzer's token array (whole-stage
  codegen; shingle containment for phrases, position-lambda EXISTS for
  NEAR, ``levenshtein`` EXISTS for fuzzy). For unindexed data, and the
  property-test twin of the layout path.

Semantics notes (both compilers, test-pinned):

- A bare word that analyzes to several tokens is an implicit AND of them;
  a word that analyzes to nothing matches no documents.
- Negation is AND-NOT: a query satisfiable by a document containing NONE
  of its leaves (``NOT x``, but also ``NOT x OR y`` — its NOT branch
  alone admits term-free docs; ``y AND NOT x`` is fine) is rejected with
  ValueError — matching "everything except" requires a corpus scan,
  which is a different (and at 10^12 docs, usually wrong) question. Same
  contract as Lucene's pure-negative clause handling.
- Fuzzy matches any document containing a DICTIONARY term within edit
  distance ``k`` of the word (layout: gram-index expansion,
  `fuzzy.fuzzy_terms_edit`; scan: any token within distance k — the
  dictionary IS the corpus vocabulary, so the two agree on a current
  index).
- ``"a b c"~N`` is the engine's unordered NEAR: some occurrence of the
  first term with every other term within token distance ≤ N
  (`termindex.near_match_n` semantics); terms must be distinct.
- ``word*`` (trailing star only) matches any document containing a
  DICTIONARY term starting with the analyzed prefix. Layout serving
  expands via a range probe of the source index's term-sorted termstats
  (`fuzzy.prefix_terms`, MAX_FUZZY_TERMS-capped — needs no gram
  layout); the scan twin tests tokens with ``startswith`` — identical
  on a current index since the dictionary IS the corpus vocabulary.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyzer import get_analyzer, shingles_expr
from .session import local_frame

# mask bits ride a signed long; bit 63 would flip the sign under bit_or
MAX_LEAVES = 62


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Term:
    """A single word (pre-analysis in parser output; one analyzed token
    after normalization). ``field``: None = any field (plain corpora have
    exactly one); a name = that field only (``field:word`` syntax,
    fielded compilers)."""
    text: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Phrase:
    """Quoted token sequence. slop=0: exact adjacency. slop>0: unordered
    NEAR — all terms within token distance ≤ slop of an occurrence of the
    first (``termindex.near_match_n`` semantics, distinct terms).
    ``field``: see Term — fielded positions are field-local, so a phrase
    never matches across a field boundary."""
    text: str
    slop: int = 0
    field: str | None = None


@dataclass(frozen=True)
class Fuzzy:
    """word~k: documents containing a vocabulary term within Levenshtein
    distance ≤ max_edits of the (single-token) analyzed word. ``field``:
    see Term."""
    text: str
    max_edits: int = 1
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Prefix:
    """word*: documents containing any vocabulary term starting with the
    (single-token) analyzed prefix. Layout serving expands against the
    term dictionary (`fuzzy.prefix_terms` — sorted-termstats range probe,
    MAX_FUZZY_TERMS-capped); the scan twin tests tokens directly.
    ``field``: see Term."""
    text: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class Not:
    child: object


class _FalseNode:
    """Matches nothing (a leaf whose text analyzed away)."""
    __slots__ = ()
    def __repr__(self):  # pragma: no cover - debug aid
        return "FALSE"


_FALSE = _FalseNode()

# normalized leaves (analyzer applied; hashable → dedup to one bit each)


@dataclass(frozen=True)
class _PhraseLeaf:
    terms: tuple  # ≥ 2 analyzed tokens, exact adjacency
    field: str | None = None


@dataclass(frozen=True)
class _NearLeaf:
    terms: tuple  # ≥ 2 distinct analyzed tokens
    slop: int
    field: str | None = None


_LEAF_TYPES = (Term, Fuzzy, Prefix, _PhraseLeaf, _NearLeaf)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\()
      | (?P<rpar>\))
      | (?:(?P<pscope>[^\s()"~:^]+):)?"(?P<phrase>[^"]*)"
          (?:~(?P<slop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?
      | (?P<minus>-)(?=\S)
      | (?P<word>[^\s()"~^]+)(?:~(?P<edits>\d+))?
          (?:\^(?P<boost>\d+(?:\.\d+)?))?
    )""",
    re.VERBOSE,
)


def parse(query: str):
    """Parse the lucene-lite grammar into an AST (see module docstring).

    Precedence (loosest → tightest): OR, AND/adjacency, NOT/-.
    ``AND``/``OR``/``NOT`` are operators only in uppercase — lowercase
    ``and`` is a search term, as in Lucene's standard parser."""
    tokens: list[tuple[str, object]] = []
    i = 0
    while i < len(query):
        if query[i].isspace():
            i += 1
            continue
        m = _TOKEN_RE.match(query, i)
        if not m:
            raise ValueError(f"query syntax error at {query[i:]!r}")
        i = m.end()
        if m.group("lpar"):
            tokens.append(("(", None))
        elif m.group("rpar"):
            tokens.append((")", None))
        elif m.group("phrase") is not None:
            if m.group("pboost") is not None:
                raise ValueError(
                    "boost (^w) applies to term-class leaves — phrase "
                    "leaves filter, they do not score"
                )
            tokens.append(
                ("leaf", Phrase(m.group("phrase"),
                                int(m.group("slop") or 0),
                                field=m.group("pscope")))
            )
        elif m.group("minus"):
            tokens.append(("NOT", None))
        else:
            w = m.group("word")
            if (w in ("AND", "OR", "NOT") and m.group("edits") is None
                    and m.group("boost") is None):
                tokens.append((w, None))
                continue
            scope = None
            if ":" in w:
                scope, _, w = w.partition(":")
                if not scope or not w or ":" in w:
                    raise ValueError(
                        f"bad field scope in {m.group('word')!r} — "
                        "expected field:word"
                    )
            boost = float(m.group("boost") or 1.0)
            if not boost > 0.0:
                raise ValueError(f"boost must be > 0 in {m.group(0)!r}")
            if m.group("edits") is not None:
                if "*" in w:
                    raise ValueError(f"cannot combine * and ~ in {w!r}")
                tokens.append(("leaf", Fuzzy(w, int(m.group("edits")),
                                             field=scope, boost=boost)))
            elif w.endswith("*"):
                if len(w) == 1 or "*" in w[:-1]:
                    raise ValueError(
                        f"wildcard {w!r}: only a single trailing * "
                        "(prefix query) is supported"
                    )
                tokens.append(("leaf", Prefix(w[:-1], field=scope,
                                              boost=boost)))
            elif "*" in w:
                raise ValueError(
                    f"wildcard {w!r}: only a single trailing * "
                    "(prefix query) is supported"
                )
            else:
                tokens.append(("leaf", Term(w, field=scope, boost=boost)))
    pos = 0

    def peek():
        return tokens[pos][0] if pos < len(tokens) else None

    def take():
        nonlocal pos
        tok = tokens[pos]
        pos += 1
        return tok

    def parse_or():
        out = [parse_and()]
        while peek() == "OR":
            take()
            out.append(parse_and())
        return out[0] if len(out) == 1 else Or(tuple(out))

    def parse_and():
        out = [parse_unary()]
        while peek() in ("AND", "NOT", "leaf", "("):
            if peek() == "AND":
                take()
            out.append(parse_unary())
        return out[0] if len(out) == 1 else And(tuple(out))

    def parse_unary():
        kind = peek()
        if kind == "NOT":
            take()
            return Not(parse_unary())
        if kind == "(":
            take()
            node = parse_or()
            if peek() != ")":
                raise ValueError("unbalanced '(' in query")
            take()
            return node
        if kind == "leaf":
            return take()[1]
        raise ValueError(
            f"expected a term at token {pos} of {query!r}"
        )

    if not tokens:
        raise ValueError("empty query")
    node = parse_or()
    if pos != len(tokens):
        raise ValueError("unbalanced ')' in query")
    return node


# ---------------------------------------------------------------------------
# normalization
# ---------------------------------------------------------------------------

def _normalize(node, tokenize):
    """Apply the analyzer to every leaf and fold constants: Term → one
    analyzed token (several → And of them; none → FALSE), Phrase → exact
    _PhraseLeaf / unordered _NearLeaf (single survivor token → Term),
    Fuzzy → single analyzed token (else ValueError, mirroring
    fuzzy_terms_edit)."""
    if isinstance(node, Term):
        toks = tokenize(node.text)
        if not toks:
            return _FALSE
        if len(toks) == 1:
            return Term(toks[0], field=node.field, boost=node.boost)
        return And(tuple(Term(t, field=node.field, boost=node.boost)
                         for t in toks))
    if isinstance(node, Phrase):
        toks = tokenize(node.text)
        if not toks:
            return _FALSE
        if len(toks) == 1:
            return Term(toks[0], field=node.field)  # phrases carry no boost
        if node.slop > 0:
            if len(set(toks)) != len(toks):
                raise ValueError(
                    f"NEAR terms must be distinct: {toks}"
                )
            return _NearLeaf(tuple(toks), node.slop, field=node.field)
        return _PhraseLeaf(tuple(toks), field=node.field)
    if isinstance(node, Fuzzy):
        toks = tokenize(node.text)
        if len(toks) != 1:
            raise ValueError(
                f"fuzzy takes a single-token word; analyze "
                f"{node.text!r} → {toks}"
            )
        if node.max_edits < 1:
            return Term(toks[0], field=node.field, boost=node.boost)
        return Fuzzy(toks[0], node.max_edits, field=node.field,
                     boost=node.boost)
    if isinstance(node, Prefix):
        toks = tokenize(node.text)
        if len(toks) != 1:
            raise ValueError(
                f"prefix takes a single-token word; analyze "
                f"{node.text!r} → {toks}"
            )
        return Prefix(toks[0], field=node.field, boost=node.boost)
    if isinstance(node, (_PhraseLeaf, _NearLeaf)) or node is _FALSE:
        return node  # already normalized (idempotent re-entry)
    if isinstance(node, Not):
        child = _normalize(node.child, tokenize)
        return child.child if isinstance(child, Not) else Not(child)
    if isinstance(node, (And, Or)):
        kids = [_normalize(c, tokenize) for c in node.children]
        if isinstance(node, And):
            if any(c is _FALSE for c in kids):
                return _FALSE
            return kids[0] if len(kids) == 1 else And(tuple(kids))
        kids = [c for c in kids if c is not _FALSE]
        if not kids:
            return _FALSE
        return kids[0] if len(kids) == 1 else Or(tuple(kids))
    raise TypeError(f"not a query node: {node!r}")


def _collect_leaves(node, out: dict) -> None:
    if isinstance(node, _LEAF_TYPES):
        out.setdefault(node, len(out))
    elif isinstance(node, (And, Or)):
        for c in node.children:
            _collect_leaves(c, out)
    elif isinstance(node, Not):
        _collect_leaves(node.child, out)


def _eval_all_false(node) -> bool:
    """Truth value of the tree when NO leaf matches — True means the query
    would match a document containing none of its leaves (pure-negative:
    rejected; see module docstring)."""
    if isinstance(node, _LEAF_TYPES) or node is _FALSE:
        return False
    if isinstance(node, And):
        return all(_eval_all_false(c) for c in node.children)
    if isinstance(node, Or):
        return any(_eval_all_false(c) for c in node.children)
    return not _eval_all_false(node.child)


def _check_tree(node) -> dict:
    """Shared validation → {leaf: bit}."""
    if _eval_all_false(node):
        raise ValueError(
            "pure-negative query (matches documents containing none of "
            "its terms) — add at least one required positive clause"
        )
    bits: dict = {}
    _collect_leaves(node, bits)
    if len(bits) > MAX_LEAVES:
        raise ValueError(
            f"query has {len(bits)} leaves; the mask compiler supports "
            f"≤ {MAX_LEAVES}"
        )
    return bits


def _require_unscoped(bits: dict) -> None:
    for lf in bits:
        if getattr(lf, "field", None) is not None:
            raise ValueError(
                f"field-scoped leaf {lf!r} — use the fielded compilers "
                "(match_layout_fielded / match_scan_fielded / "
                "search_fielded)"
            )


def _mask_pred(node, bits: dict) -> Column:
    """The boolean tree as ONE JVM expression over the per-doc mask."""
    if node is _FALSE:
        return F.lit(False)
    if isinstance(node, _LEAF_TYPES):
        return F.col("mask").bitwiseAND(F.lit(1 << bits[node])) != 0
    if isinstance(node, And):
        return reduce(lambda a, b: a & b,
                      (_mask_pred(c, bits) for c in node.children))
    if isinstance(node, Or):
        return reduce(lambda a, b: a | b,
                      (_mask_pred(c, bits) for c in node.children))
    return ~_mask_pred(node.child, bits)


# ---------------------------------------------------------------------------
# layout compiler
# ---------------------------------------------------------------------------

def _expand_leaves(
    spark: SparkSession, meta: dict, fuzzy_dir: str | None, bits: dict,
    cache: dict | None = None,
) -> dict:
    """{Fuzzy|Prefix leaf: [vocabulary terms]} — the dictionary-expansion
    pass. Fuzzy rides the gram layout (needs ``fuzzy_dir``); Prefix is a
    sorted-termstats range probe on the layout's source index (no extra
    layout). Both are MAX_FUZZY_TERMS-capped.

    ``cache`` (leaf → terms, leaves are frozen dataclasses) makes the
    expansion run ONCE per distinct leaf across a whole batch AND across
    the filter/scoring phases of search() — each fuzzy leaf used to pay
    its gram-probe job twice (round-5 advice item). All uncached fuzzy
    leaves of a call expand in ONE batched gram job
    (fuzzy.fuzzy_terms_edit_batch); prefix leaves are driver-side
    dictionary range probes (no job at all)."""
    from . import fuzzy as fz

    cache = cache if cache is not None else {}
    fuzzy_leaves = [lf for lf in bits
                    if isinstance(lf, Fuzzy) and lf not in cache]
    # dedup identical (word, edits) across differently-boosted leaves
    todo: dict[tuple[str, int], list] = {}
    for lf in fuzzy_leaves:
        todo.setdefault((lf.text, lf.max_edits), []).append(lf)
    if todo:
        if fuzzy_dir is None:
            raise ValueError("query has fuzzy leaves — pass fuzzy_dir")
        batch = [(i, w, e) for i, (w, e) in enumerate(sorted(todo))]
        got = fz.fuzzy_terms_edit_batch(spark, fuzzy_dir, batch)
        for (i, w, e) in batch:
            terms = got.get(i, [])
            if len(terms) > fz.MAX_FUZZY_TERMS:
                raise ValueError(
                    f"{w!r}~{e} expands to {len(terms)} vocabulary terms "
                    f"(> MAX_FUZZY_TERMS)"
                )
            for lf in todo[(w, e)]:
                cache[lf] = terms
    prefix_leaves = sorted(
        {lf for lf in bits if isinstance(lf, Prefix) and lf not in cache},
        key=lambda lf: (lf.text, lf.field or ""),
    )
    if prefix_leaves:
        ptodo = sorted({lf.text for lf in prefix_leaves})
        got = fz.prefix_terms_batch(
            spark, meta["source_index"], list(enumerate(ptodo))
        )
        by_text = {p: got[i] for i, p in enumerate(ptodo)}
        for lf in prefix_leaves:
            cache[lf] = by_text[lf.text]
    return {lf: cache[lf] for lf in bits if lf in cache}


def match_layout(
    spark: SparkSession,
    layout_dir: str,
    query,
    fuzzy_dir: str | None = None,
    allow_stale: bool = False,
    expansions_cache: dict | None = None,
) -> DataFrame:
    """(docid): documents matching an arbitrary boolean query, served from
    the term-partitioned layout. Scale shape (see module docstring): one
    bucket-pruned term scan + one batched positional call per phrase/NEAR
    shape + ONE groupBy(docid) bit_or — the tree itself is free.

    ``query`` is a string (parsed by :func:`parse`) or an AST node.
    Fuzzy leaves need ``fuzzy_dir`` (a `fuzzy.build_fuzzy_layout` dir over
    the SAME source index)."""
    from .index import termindex

    meta = termindex._load_meta(layout_dir)
    if meta.get("fielded"):
        raise ValueError("fielded layout — use match_layout_fielded")
    return match_layout_batch(
        spark, layout_dir, [(0, query)], fuzzy_dir=fuzzy_dir,
        allow_stale=allow_stale, expansions_cache=expansions_cache,
    ).select("docid")


def match_layout_batch(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, object]],
    fuzzy_dir: str | None = None,
    allow_stale: bool = False,
    expansions_cache: dict | None = None,
) -> DataFrame:
    """(query_id, docid): N boolean queries served in ONE job family —
    every query's term-class leaves ride the SAME pruned layout scan
    (rows become (term, query_id, mask) via one broadcast map), all
    phrase leaves batch through one positional call (synthetic leaf ids),
    one groupBy(query_id, docid) bit_or, and every tree evaluates in a
    single OR-of-(query_id = q AND tree_q) expression. The result-serving
    fan-in shape: cost is bounded by Σ over queries of Σ df(leaf terms),
    with per-query work sharing the scans instead of multiplying them.

    The result pairs with ``bm25_topk(filter_by=...)``: a (query_id,
    docid) filter restricts each ranked query independently.

    ``allow_stale=True`` serves a MIXED snapshot: term and phrase leaves
    read the (stale) layout, but fuzzy/prefix expansions probe the
    CURRENT source index's dictionary — one tree can then combine two
    index states. Rebuild/refresh the layout when single-snapshot
    semantics matter."""
    from .index import termindex

    meta = termindex._load_meta(layout_dir)
    if meta.get("fielded"):
        raise ValueError("fielded layout — use match_layout_fielded")
    termindex._check_stale(meta, allow_stale)
    empty = local_frame(spark, [], "query_id int, docid long")
    compiled = _compile_mask_parts(spark, meta, layout_dir, queries,
                                   fuzzy_dir, allow_stale, expansions_cache)
    if compiled is None:
        return empty
    parts, pred = compiled
    if not parts:
        return empty
    allbits = reduce(DataFrame.unionByName, parts)
    masks = allbits.groupBy("query_id", "docid").agg(
        F.expr("bit_or(mask)").alias("mask")
    )
    return masks.filter(pred).select("query_id", "docid")


def _compile_mask_parts(
    spark: SparkSession,
    meta: dict,
    layout_dir: str,
    queries: list[tuple[int, object]],
    fuzzy_dir: str | None,
    allow_stale: bool,
    expansions_cache: dict | None = None,
):
    """(mask parts, tree predicate) for a batch of boolean queries — the
    leaf-serving half of the mask compiler, reusable by the FUSED ranked
    front door (termindex._scored_rows mask_parts) so the filter and the
    scoring share one aggregation. Returns None when every query
    normalizes to FALSE."""
    from .index import termindex

    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    plans = []  # (qid, node, bits)
    seen_qids: set[int] = set()
    for qid, q in queries:
        qid = int(qid)
        if qid in seen_qids:
            raise ValueError(f"duplicate query_id {qid}")
        seen_qids.add(qid)
        node = _normalize(parse(q) if isinstance(q, str) else q, tokenize)
        if node is _FALSE:
            continue
        bits = _check_tree(node)
        _require_unscoped(bits)
        plans.append((qid, node, bits))
    if not plans:
        return None

    # term-class leaves across ALL queries: ONE scan + one broadcast map;
    # a term may serve several leaves/queries → one (term, qid, mask) row
    # per query with the OR of its bits
    tmap_rows: dict[tuple[str, int], int] = {}
    exp_cache = expansions_cache if expansions_cache is not None else {}
    # expand ALL queries' fuzzy/prefix leaves in one call (one batched
    # gram job + driver-side prefix probes), not one call per query
    all_leaves: dict = {}
    for _, _, bits in plans:
        for lf in bits:
            all_leaves.setdefault(lf, len(all_leaves))
    expansions = _expand_leaves(spark, meta, fuzzy_dir, all_leaves,
                                cache=exp_cache)
    for qid, node, bits in plans:
        for leaf, bit in bits.items():
            terms = ([leaf.text] if isinstance(leaf, Term)
                     else expansions.get(leaf, []))
            for t in terms:
                key = (t, qid)
                tmap_rows[key] = tmap_rows.get(key, 0) | (1 << bit)

    parts = []
    if tmap_rows:
        all_terms = sorted({t for t, _ in tmap_rows})
        tp = termindex.term_postings(spark, layout_dir, all_terms,
                                     allow_stale=allow_stale)
        parts.append(_attach_masks(spark, tp, tmap_rows))

    # positional leaves: synthetic ids so one phrase_match / near call
    # serves every query in the batch
    sid_map: list[tuple[int, int]] = []  # sid → (qid, mask)
    phrase_batch: list[tuple[int, str]] = []
    near_by_slop: dict[int, list[tuple[int, list[str]]]] = {}
    for qid, node, bits in plans:
        for lf, bit in bits.items():
            if isinstance(lf, _PhraseLeaf):
                sid_map.append((qid, 1 << bit))
                phrase_batch.append((len(sid_map) - 1, " ".join(lf.terms)))
            elif isinstance(lf, _NearLeaf):
                sid_map.append((qid, 1 << bit))
                near_by_slop.setdefault(lf.slop, []).append(
                    (len(sid_map) - 1, list(lf.terms))
                )

    def _sid_part(got: DataFrame) -> DataFrame:
        # sid → (qid, mask) is 1:1 and tiny: two literal-map lookups
        # instead of a broadcast join (one fewer broadcast job per shape)
        qmap = F.create_map(*[
            x for i, (q, _) in enumerate(sid_map)
            for x in (F.lit(i), F.lit(q))
        ])
        mmap = F.create_map(*[
            x for i, (_, m) in enumerate(sid_map)
            for x in (F.lit(i), F.lit(m))
        ])
        sid = F.col("query_id")
        return got.select(
            qmap[sid].cast("int").alias("query_id"),
            "docid",
            mmap[sid].cast("long").alias("mask"),
        )

    if phrase_batch:
        got = termindex.phrase_match(spark, layout_dir, phrase_batch,
                                     allow_stale=allow_stale)
        parts.append(_sid_part(got))
    for slop, grp in sorted(near_by_slop.items()):
        got = termindex.near_match_n(spark, layout_dir, grp, k=slop,
                                     allow_stale=allow_stale)
        parts.append(_sid_part(got))

    pred = reduce(
        lambda a, b: a | b,
        ((F.col("query_id") == qid) & _mask_pred(node, bits)
         for qid, node, bits in plans),
    )
    return parts, pred


# above this many distinct terms, mask attachment falls back to a
# broadcast join: a literal CASE/map over thousands of fuzzy-expansion
# terms would bloat the plan (guide §3.3 — planning time is real work)
MAX_LITERAL_TMAP = 256


def _attach_masks(spark: SparkSession, tp: DataFrame,
                  tmap_rows: dict[tuple[str, int], int]) -> DataFrame:
    """(query_id, docid, mask) from decoded (term, docid) rows. Small term
    sets (the common case) attach their per-query masks with ONE literal
    map lookup + explode — no broadcast exchange, no broadcast job; big
    dictionary expansions keep the broadcast join."""
    by_term: dict[str, list[tuple[int, int]]] = {}
    for (t, q), m in tmap_rows.items():
        by_term.setdefault(t, []).append((q, m))
    if len(by_term) <= MAX_LITERAL_TMAP:
        entries = []
        for t in sorted(by_term):
            arr = F.array(*[
                F.struct(F.lit(q).cast("int").alias("query_id"),
                         F.lit(m).cast("long").alias("mask"))
                for q, m in sorted(by_term[t])
            ])
            entries.extend([F.lit(t), arr])
        qm_map = F.create_map(*entries)
        return (
            tp.select("docid", F.explode(qm_map[F.col("term")]).alias("qm"))
            .select("qm.query_id", "docid", "qm.mask")
        )
    tmap = local_frame(
        spark, sorted((t, q, m) for (t, q), m in tmap_rows.items()),
        "term string, query_id int, mask long",
    )
    return (tp.join(F.broadcast(tmap), "term")
            .select("query_id", "docid", "mask"))


def _mask_filter(parts: list, node, bits: dict, empty: DataFrame) -> DataFrame:
    """The shared mask tail: union the per-leaf (docid, mask) rows, ONE
    groupBy(docid) bit_or, evaluate the whole tree as one expression."""
    if not parts:
        return empty
    allbits = reduce(DataFrame.unionByName, parts)
    masks = allbits.groupBy("docid").agg(F.expr("bit_or(mask)").alias("mask"))
    return masks.filter(_mask_pred(node, bits)).select("docid")


# ---------------------------------------------------------------------------
# fielded layout compiler
# ---------------------------------------------------------------------------

def match_layout_fielded(
    spark: SparkSession,
    layout_dir: str,
    query,
    fuzzy_dir: str | None = None,
    allow_stale: bool = False,
    expansions_cache: dict | None = None,
) -> DataFrame:
    """(docid): boolean retrieval over a FIELDED term-partitioned layout —
    the multi-field twin of :func:`match_layout`, with ``field:`` scoping:

    - ``src:spark`` — term present in THAT field; ``spark`` (unscoped) —
      present in ANY field (the composites for every field share the
      leaf's mask bit; composites of one base term co-locate in one
      bucket, so the unscoped form prunes exactly like the scoped one).
    - ``body:"key order"`` — phrase within a field (fielded positions are
      field-local; an unscoped phrase is the OR of the per-field
      phrases). Phrase/NEAR leaves serve from the doc-sharded fielded
      index (`meta["source_index"]`) — fielded layouts carry no
      positions — batched one call per shape; term leaves stay on the
      layout's pruned composite scan.
    - Fuzzy/prefix leaves expand over the BASE-term dictionary (shared
      with the plain path), then scope like Term.

    The mask tail is identical to the plain compiler: one
    groupBy(docid) bit_or, whole tree as one expression."""
    return match_layout_fielded_batch(
        spark, layout_dir, [(0, query)], fuzzy_dir=fuzzy_dir,
        allow_stale=allow_stale, expansions_cache=expansions_cache,
    ).select("docid")


def match_layout_fielded_batch(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, object]],
    fuzzy_dir: str | None = None,
    allow_stale: bool = False,
    expansions_cache: dict | None = None,
) -> DataFrame:
    """(query_id, docid): N field-scoped boolean trees in ONE job family —
    the fielded twin of :func:`match_layout_batch`. Every query's
    term-class composites ride the SAME pruned layout scan via one
    broadcast (term, query_id, mask) map; ALL phrase leaves across the
    batch share one `fielded_phrase_match_batch` call (synthetic leaf
    ids); NEAR leaves run per (leaf, field); one
    groupBy(query_id, docid) bit_or; OR-of-guarded-trees filter. Pairs
    with ``bm25f_topk(filter_by=...)`` for per-query filtered fielded
    ranking.

    ``allow_stale=True`` serves a MIXED snapshot: term-class leaves read
    the (stale) layout while phrase/NEAR leaves and prefix expansions
    read the CURRENT source index — one boolean tree can then combine
    two index states. Keep the source index un-advanced, or rebuild the
    layout, when single-snapshot semantics matter."""
    from .index import termindex

    meta = termindex._load_meta(layout_dir)
    if not meta.get("fielded"):
        raise ValueError("not a fielded layout — use match_layout")
    termindex._check_stale(meta, allow_stale)
    empty = local_frame(spark, [], "query_id int, docid long")
    compiled = _compile_fielded_mask_parts(
        spark, meta, layout_dir, queries, fuzzy_dir, allow_stale,
        expansions_cache)
    if compiled is None:
        return empty
    parts, pred = compiled
    if not parts:
        return empty
    allbits = reduce(DataFrame.unionByName, parts)
    masks = allbits.groupBy("query_id", "docid").agg(
        F.expr("bit_or(mask)").alias("mask")
    )
    return masks.filter(pred).select("query_id", "docid")


def _compile_fielded_mask_parts(
    spark: SparkSession,
    meta: dict,
    layout_dir: str,
    queries: list[tuple[int, object]],
    fuzzy_dir: str | None,
    allow_stale: bool,
    expansions_cache: dict | None = None,
):
    """Fielded twin of :func:`_compile_mask_parts` — (mask parts, tree
    predicate), reusable by the fused fielded ranked front door."""
    from . import fielded as fmod
    from .index import termindex
    from .index.spimi import FIELD_SEP

    fields = meta["fields"]
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    plans = []  # (qid, node, bits)
    seen_qids: set[int] = set()
    for qid, q in queries:
        qid = int(qid)
        if qid in seen_qids:
            raise ValueError(f"duplicate query_id {qid}")
        seen_qids.add(qid)
        node = _normalize(parse(q) if isinstance(q, str) else q, tokenize)
        if node is _FALSE:
            continue
        bits = _check_tree(node)
        for lf in bits:
            f = getattr(lf, "field", None)
            if f is not None and f not in fields:
                raise ValueError(
                    f"unknown field {f!r} (layout has {fields})")
        plans.append((qid, node, bits))
    if not plans:
        return None

    # term-class leaves → composite terms; one row per (composite, qid);
    # ALL queries' fuzzy/prefix leaves expand in one batched call
    tmap_rows: dict[tuple[str, int], int] = {}
    all_leaves: dict = {}
    for _, _, bits in plans:
        for lf in bits:
            all_leaves.setdefault(lf, len(all_leaves))
    expansions = _expand_leaves(spark, meta, fuzzy_dir, all_leaves,
                                cache=expansions_cache)
    for qid, node, bits in plans:
        for leaf, bit in bits.items():
            base = ([leaf.text] if isinstance(leaf, Term)
                    else expansions.get(leaf, []))
            flds = [leaf.field] if getattr(leaf, "field", None) else fields
            for t in base:
                for f in flds:
                    key = (f + FIELD_SEP + t, qid)
                    tmap_rows[key] = tmap_rows.get(key, 0) | (1 << bit)

    parts = []
    if tmap_rows:
        tp = termindex.term_postings(
            spark, layout_dir, sorted({c for c, _ in tmap_rows}),
            allow_stale=allow_stale,
        )
        parts.append(_attach_masks(spark, tp, tmap_rows))

    # phrase leaves across the whole batch: ONE fielded positional call
    sid_map: list[tuple[int, int]] = []  # sid → (qid, mask)
    phrase_batch: list[tuple[int, str, str]] = []
    for qid, node, bits in plans:
        for lf, bit in bits.items():
            if isinstance(lf, _PhraseLeaf):
                sid_map.append((qid, 1 << bit))
                sid = len(sid_map) - 1
                for f in ([lf.field] if lf.field else fields):
                    phrase_batch.append((sid, f, " ".join(lf.terms)))
    if phrase_batch:
        got = fmod.fielded_phrase_match_batch(
            spark, meta["source_index"], phrase_batch
        )
        # 1:1 sid → (qid, mask): literal-map lookups, no broadcast join
        qmap = F.create_map(*[
            x for i, (q, _) in enumerate(sid_map)
            for x in (F.lit(i), F.lit(q))
        ])
        mmap = F.create_map(*[
            x for i, (_, m) in enumerate(sid_map)
            for x in (F.lit(i), F.lit(m))
        ])
        sid = F.col("query_id")
        parts.append(got.select(
            qmap[sid].cast("int").alias("query_id"),
            "docid",
            mmap[sid].cast("long").alias("mask"),
        ))

    for qid, node, bits in plans:
        for lf, bit in bits.items():
            if not isinstance(lf, _NearLeaf):
                continue
            for f in ([lf.field] if lf.field else fields):
                got = fmod.fielded_near_match_n(
                    spark, meta["source_index"], f, list(lf.terms),
                    k=lf.slop,
                )
                parts.append(got.select(
                    F.lit(qid).cast("int").alias("query_id"),
                    "docid",
                    F.lit(1 << bit).cast("long").alias("mask"),
                ))

    pred = reduce(
        lambda a, b: a | b,
        ((F.col("query_id") == qid) & _mask_pred(node, bits)
         for qid, node, bits in plans),
    )
    return parts, pred


# ---------------------------------------------------------------------------
# scan compiler
# ---------------------------------------------------------------------------

def _positions_of(toks: Column, term: str) -> Column:
    """0-based positions of ``term`` in the token array, as a JVM column."""
    return F.filter(
        F.transform(toks, lambda t, i: F.when(t == F.lit(term), i)),
        lambda p: p.isNotNull(),
    )


def _leaf_scan_pred(node, toks: Column) -> Column:
    """One leaf's predicate over ONE token-array column."""
    if isinstance(node, Term):
        return F.array_contains(toks, node.text)
    if isinstance(node, _PhraseLeaf):
        n = len(node.terms)
        return F.array_contains(
            shingles_expr(toks, n), " ".join(node.terms)
        )
    if isinstance(node, _NearLeaf):
        rest = node.terms[1:]
        return F.exists(
            _positions_of(toks, node.terms[0]),
            lambda p0: reduce(
                lambda a, b: a & b,
                (
                    F.exists(
                        _positions_of(toks, t),
                        lambda pj: F.abs(pj - p0) <= node.slop,
                    )
                    for t in rest
                ),
            ),
        )
    if isinstance(node, Fuzzy):
        return F.exists(
            toks,
            lambda t: F.levenshtein(t, F.lit(node.text)) <= node.max_edits,
        )
    return F.exists(toks, lambda t: t.startswith(node.text))  # Prefix


def _scan_pred(node, toks_by_field) -> Column:
    """The tree as one boolean Column. ``toks_by_field``: a single Column
    (plain corpus — leaves are unscoped) or {field: Column} (fielded —
    an unscoped leaf is the OR over every field's array)."""
    if node is _FALSE:
        return F.lit(False)
    if isinstance(node, _LEAF_TYPES):
        if not isinstance(toks_by_field, dict):
            return _leaf_scan_pred(node, toks_by_field)
        flds = ([node.field] if getattr(node, "field", None)
                else sorted(toks_by_field))
        return reduce(lambda a, b: a | b,
                      (_leaf_scan_pred(node, toks_by_field[f])
                       for f in flds))
    if isinstance(node, And):
        return reduce(lambda a, b: a & b,
                      (_scan_pred(c, toks_by_field) for c in node.children))
    if isinstance(node, Or):
        return reduce(lambda a, b: a | b,
                      (_scan_pred(c, toks_by_field) for c in node.children))
    return ~_scan_pred(node.child, toks_by_field)


def match_scan(
    docs: DataFrame,
    query,
    id_col: str = "docid",
    content_col: str = "content",
    analyzer: str = "default",
) -> DataFrame:
    """(docid): the corpus-scan twin of :func:`match_layout` — the whole
    tree as ONE boolean Column over the analyzer's token array (wholestage
    codegen; no shuffle, no UDFs). Row-identical to the layout path on a
    current index (property-tested)."""
    an = get_analyzer(analyzer)
    node = _normalize(parse(query) if isinstance(query, str) else query,
                      an.py_tokenize)
    spark = docs.sparkSession
    if node is _FALSE:
        return local_frame(spark, [], "docid long")
    bits = _check_tree(node)
    _require_unscoped(bits)
    toks = an.tokens_expr(F.col(content_col))
    return (
        docs.select(F.col(id_col).alias("docid"), toks.alias("__toks"))
        .filter(_scan_pred(node, F.col("__toks")))
        .select("docid")
    )


def match_scan_fielded(
    docs: DataFrame,
    query,
    fields: dict[str, str],
    id_col: str = "docid",
    analyzer: str = "default",
) -> DataFrame:
    """(docid): the corpus-scan twin of :func:`match_layout_fielded`.
    ``fields`` maps field name → source column (the
    `fielded.build_fielded_index` shape). Each field's column analyzes to
    its own token array; a scoped leaf tests its field's array, an
    unscoped leaf is the OR over every field — the whole tree still
    compiles to ONE boolean Column (wholestage codegen, no shuffle)."""
    an = get_analyzer(analyzer)
    node = _normalize(parse(query) if isinstance(query, str) else query,
                      an.py_tokenize)
    spark = docs.sparkSession
    if node is _FALSE:
        return local_frame(spark, [], "docid long")
    bits = _check_tree(node)
    for lf in bits:
        f = getattr(lf, "field", None)
        if f is not None and f not in fields:
            raise ValueError(
                f"unknown field {f!r} (scan has {sorted(fields)})"
            )
    sel = [F.col(id_col).alias("docid")] + [
        an.tokens_expr(F.col(col)).alias(f"__toks_{f}")
        for f, col in fields.items()
    ]
    toks_by_field = {f: F.col(f"__toks_{f}") for f in fields}
    return (
        docs.select(*sel)
        .filter(_scan_pred(node, toks_by_field))
        .select("docid")
    )


# ---------------------------------------------------------------------------
# ranked front door
# ---------------------------------------------------------------------------

def _positive_terms(node, acc: dict, spark=None, fuzzy_dir=None,
                    expansions=None) -> None:
    """Term-class leaves NOT under any ``NOT`` — the scoring subscription
    of :func:`search` as {term: weight} (phrase/NEAR leaves filter but
    don't score). Leaves anywhere below a ``NOT`` never score, even at
    even negation parity after nesting (e.g. the ``x`` in
    ``NOT (y AND NOT x)``): after `_normalize` only directly-nested
    double negation collapses, and a NOT-subtree's role is exclusion —
    its terms aren't part of what the user asked to rank by. A term
    reached through several leaves scores with the MAX of their boosts;
    dictionary expansions inherit their leaf's boost."""
    if isinstance(node, Term):
        acc[node.text] = max(acc.get(node.text, 0.0), node.boost)
    elif isinstance(node, (Fuzzy, Prefix)) and expansions is not None:
        for t in expansions.get(node, ()):
            acc[t] = max(acc.get(t, 0.0), node.boost)
    elif isinstance(node, (And, Or)):
        for c in node.children:
            _positive_terms(c, acc, spark, fuzzy_dir, expansions)
    # Not: leaves below it excluded from scoring


def search(
    spark: SparkSession,
    layout_dir: str,
    query: str,
    k: int = 10,
    fuzzy_dir: str | None = None,
    round_to: int | None = 4,
    allow_stale: bool = False,
) -> DataFrame:
    """(query_id=0, rank, docid, score): the one-call ranked front door —
    filter by the boolean tree (:func:`match_layout`), rank the survivors
    by BM25 over the query's positive term leaves (fuzzy leaves score
    through their expansions; phrase/NEAR leaves filter only). A plain
    free-text query (no operators) therefore ranks EXACTLY like
    `termindex.bm25_topk` under an AND-filter — and `a OR b` relaxes the
    filter without touching the scoring."""
    from .index import termindex

    meta = termindex._load_meta(layout_dir)
    if meta.get("fielded"):
        raise ValueError("fielded layout — use search_fielded")
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    node = _normalize(parse(query), tokenize)
    out_schema = "query_id int, rank int, docid long, score double"
    if node is _FALSE:
        return local_frame(spark, [], out_schema)
    bits = _check_tree(node)
    _require_unscoped(bits)
    exp_cache: dict = {}  # expansion runs once; the filter compile reuses it
    expansions = _expand_leaves(spark, meta, fuzzy_dir, bits,
                                cache=exp_cache)
    scored: dict = {}
    _positive_terms(node, scored, spark, fuzzy_dir, expansions)
    if not scored:
        raise ValueError(
            "no positive term leaves to rank by — use match_layout() for "
            "unranked boolean retrieval"
        )
    # FUSED tail: the boolean filter's mask rows join the scoring
    # aggregation (termindex._scored_rows mask_parts) — one shuffle, no
    # separately-aggregated filter + semi-join
    parts, pred = _compile_mask_parts(
        spark, meta, layout_dir, [(0, node)], fuzzy_dir, allow_stale,
        exp_cache)
    assert parts  # a scored query always has ≥1 mask leaf
    boosted = {t: w for t, w in scored.items() if w != 1.0}
    return termindex.bm25_topk(
        spark, layout_dir, [(0, " ".join(sorted(scored)))], k=k,
        round_to=round_to, allow_stale=allow_stale,
        mask_parts=parts, mask_pred=pred,
        qweights={0: boosted} if boosted else None,
    )


def facet_counts(
    spark: SparkSession,
    layout_dir: str,
    docs: DataFrame,
    query,
    facets: list[str],
    id_col: str = "docid",
    fuzzy_dir: str | None = None,
    allow_stale: bool = False,
) -> DataFrame:
    """(facet, value, n): hit counts per facet value over the documents
    matching a boolean query — the result-page facet panel.

    Scale shape: ONE layout-served match (:func:`match_layout`), one
    semi-join onto the corpus (shuffle bounded by the match size, facet
    columns pruned at the scan), then the facet pairs explode map-side
    and aggregate with partial combine — one pass however many facet
    columns are requested. Facet values render as strings (null stays
    null)."""
    if not facets:
        raise ValueError("no facet columns")
    m = match_layout(spark, layout_dir, query, fuzzy_dir=fuzzy_dir,
                     allow_stale=allow_stale)
    pairs = F.explode(F.array(*[
        F.struct(F.lit(f).alias("facet"),
                 F.col(f).cast("string").alias("value"))
        for f in facets
    ])).alias("p")
    return (
        docs.select(F.col(id_col).alias("docid"), *facets)
        .join(m, "docid", "left_semi")
        .select(pairs)
        .select("p.facet", "p.value")
        .groupBy("facet", "value")
        .agg(F.count("*").alias("n"))
    )


def more_like_this(
    spark: SparkSession,
    layout_dir: str,
    docs: DataFrame,
    doc_id: int,
    k: int = 10,
    max_terms: int = 10,
    id_col: str = "docid",
    content_col: str = "content",
    round_to: int | None = 4,
    allow_stale: bool = False,
) -> DataFrame:
    """(query_id=0, rank, docid, score): documents most similar to
    ``doc_id`` — its top-``max_terms`` terms by tf·idf become a BM25
    query; the source doc is excluded and survivors re-ranked.

    Term selection (oracle-pinned): rank the doc's distinct terms by
    round(tf · idf, 6) desc, term asc (the rounding absorbs ln() ulp
    skew across engines); idf from the index's global termstats. Scale
    shape: the seed doc reads via a pushed-down id filter (one row), its
    term stats via the termstats dictionary probe — both driver-side
    metadata — then ONE ranked layout query serves the result."""
    from .bm25 import rank_topk
    from .index import spimi, termindex
    from .index.scoring import idf

    meta = termindex._load_meta(layout_dir)
    an = get_analyzer(meta["analyzer"])
    rows = (docs.filter(F.col(id_col) == doc_id)
            .select(F.col(content_col).alias("c")).collect())
    if not rows:
        raise ValueError(f"doc {doc_id} not found in {id_col}")
    toks = an.py_tokenize(rows[0]["c"])
    if not toks:
        raise ValueError(f"doc {doc_id} analyzes to no tokens")
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    ts = spimi.load_termstats(spark, meta["source_index"])
    dfs = {r["term"]: int(r["df"]) for r in
           ts.filter(F.col("term").isin(sorted(tf))).collect()}
    n_docs = meta["n_docs"]
    ranked = sorted(
        ((round(tf[t] * idf(n_docs, d), 6), t) for t, d in dfs.items()),
        key=lambda p: (-p[0], p[1]),
    )
    seed = [t for _, t in ranked[:max_terms]]
    if not seed:
        raise ValueError(f"doc {doc_id} shares no terms with the index")
    res = termindex.bm25_topk(
        spark, layout_dir, [(0, " ".join(seed))], k=k + 1,
        round_to=round_to, allow_stale=allow_stale,
    ).filter(F.col("docid") != doc_id)
    return rank_topk(res, k, round_to)


def _scored_query_terms(
    spark: SparkSession, meta: dict, fuzzy_dir: str | None,
    queries: list[tuple[int, str]], tokenize,
    expansions_cache: dict | None = None,
) -> tuple[list, dict[int, str], dict[int, dict[str, float]]]:
    """Per-query (plans, scoring text, boosts): normalize each query,
    collect its positive term leaves (+ dictionary expansions) with
    their boosts. Raises if any query has nothing to rank by. Returns
    (plans for the filter compile, {qid: scoring text}, {qid: {term: w}}
    for the non-1.0 boosts). All queries' fuzzy leaves expand in ONE
    batched gram job; ``expansions_cache`` (when provided) carries the
    results into the filter compile so nothing expands twice."""
    plans: list[tuple[int, object]] = []
    scored_by_qid: dict[int, str] = {}
    weights_by_qid: dict[int, dict[str, float]] = {}
    normalized: list[tuple[int, object, dict]] = []
    all_leaves: dict = {}
    for qid, q in queries:
        node = _normalize(parse(q) if isinstance(q, str) else q, tokenize)
        if node is _FALSE:
            continue
        bits = _check_tree(node)
        normalized.append((int(qid), node, bits))
        for lf in bits:
            all_leaves.setdefault(lf, len(all_leaves))
    expansions = _expand_leaves(spark, meta, fuzzy_dir, all_leaves,
                                cache=expansions_cache)
    for qid, node, bits in normalized:
        scored: dict = {}
        _positive_terms(node, scored, spark, fuzzy_dir, expansions)
        if not scored:
            raise ValueError(
                f"query {qid} has no positive term leaves to rank by — "
                "use match_layout_batch() for unranked retrieval"
            )
        plans.append((qid, node))
        scored_by_qid[qid] = " ".join(sorted(scored))
        boosted = {t: w for t, w in scored.items() if w != 1.0}
        if boosted:
            weights_by_qid[qid] = boosted
    return plans, scored_by_qid, weights_by_qid


def search_batch(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    fuzzy_dir: str | None = None,
    round_to: int | None = 4,
    allow_stale: bool = False,
    expensive_df: int | None = None,
) -> DataFrame:
    """(query_id, rank, docid, score): N ranked front-door queries in ONE
    job family — the batch compile of :func:`match_layout_batch` builds
    per-query mask rows, and ONE `bm25_topk` call scores every query with
    its own tree predicate fused into the scoring aggregation. Per-query
    semantics identical to :func:`search`. ``expensive_df`` is
    bm25_topk's candidate-gate cutoff."""
    from .index import termindex

    meta = termindex._load_meta(layout_dir)
    if meta.get("fielded"):
        raise ValueError("fielded layout — use search_fielded")
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    exp_cache: dict = {}
    plans, scored_by_qid, weights = _scored_query_terms(
        spark, meta, fuzzy_dir, queries, tokenize,
        expansions_cache=exp_cache)
    if not plans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double")
    # FUSED tail — see search(): mask rows and contribs share one shuffle
    parts, pred = _compile_mask_parts(
        spark, meta, layout_dir, plans, fuzzy_dir, allow_stale, exp_cache)
    assert parts  # scored queries always have ≥1 mask leaf
    return termindex.bm25_topk(
        spark, layout_dir, sorted(scored_by_qid.items()), k=k,
        round_to=round_to, allow_stale=allow_stale,
        expensive_df=expensive_df, mask_parts=parts, mask_pred=pred,
        qweights=weights or None,
    )


def search_fielded(
    spark: SparkSession,
    layout_dir: str,
    query: str,
    boosts: dict[str, float] | None = None,
    k: int = 10,
    fuzzy_dir: str | None = None,
    round_to: int | None = 4,
    allow_stale: bool = False,
) -> DataFrame:
    """(query_id=0, rank, docid, score): the fielded ranked front door —
    filter by the boolean tree (:func:`match_layout_fielded`, field
    scoping honored), rank the survivors with FULL whole-document BM25F
    over the positive BASE-term leaves (`termindex.bm25f_topk` with
    ``boosts``). A field scope narrows the FILTER only: ``src:spark``
    keeps docs whose src field holds the term, but survivors are still
    ranked by the term's boost-weighted contribution across ALL fields —
    one scoring function however the query is scoped, mirroring the
    plain search()'s AND-filter equivalence."""
    from .index import termindex

    meta = termindex._load_meta(layout_dir)
    if not meta.get("fielded"):
        raise ValueError("not a fielded layout — use search")
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    node = _normalize(parse(query), tokenize)
    out_schema = "query_id int, rank int, docid long, score double"
    if node is _FALSE:
        return local_frame(spark, [], out_schema)
    bits = _check_tree(node)
    if any(getattr(lf, "boost", 1.0) != 1.0 for lf in bits):
        raise ValueError(
            "term boosts (^w) are not supported in fielded search — "
            "BM25F's per-FIELD boosts rank; scope the leaf instead"
        )
    exp_cache: dict = {}  # expansion runs once; the filter compile reuses it
    expansions = _expand_leaves(spark, meta, fuzzy_dir, bits,
                                cache=exp_cache)
    scored: dict = {}
    _positive_terms(node, scored, spark, fuzzy_dir, expansions)
    if not scored:
        raise ValueError(
            "no positive term leaves to rank by — use "
            "match_layout_fielded() for unranked boolean retrieval"
        )
    # FUSED tail — see search(): mask rows and contribs share one shuffle
    parts, pred = _compile_fielded_mask_parts(
        spark, meta, layout_dir, [(0, node)], fuzzy_dir, allow_stale,
        exp_cache)
    assert parts
    return termindex.bm25f_topk(
        spark, layout_dir, [(0, " ".join(sorted(scored)))], boosts=boosts,
        k=k, round_to=round_to, allow_stale=allow_stale,
        mask_parts=parts, mask_pred=pred,
    )


def search_fielded_batch(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    boosts: dict[str, float] | None = None,
    k: int = 10,
    fuzzy_dir: str | None = None,
    round_to: int | None = 4,
    allow_stale: bool = False,
) -> DataFrame:
    """(query_id, rank, docid, score): N fielded ranked front-door
    queries in ONE job family — the batch filter compile of
    :func:`match_layout_fielded_batch` plus ONE `bm25f_topk` call whose
    (query_id, docid) ``filter_by`` restricts each query independently.
    Per-query semantics identical to :func:`search_fielded` (scopes
    narrow the filter, full BM25F ranks; term boosts rejected)."""
    from .index import termindex

    meta = termindex._load_meta(layout_dir)
    if not meta.get("fielded"):
        raise ValueError("not a fielded layout — use search_batch")
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    exp_cache: dict = {}
    plans, scored_by_qid, weights = _scored_query_terms(
        spark, meta, fuzzy_dir, queries, tokenize,
        expansions_cache=exp_cache)
    if weights:
        raise ValueError(
            "term boosts (^w) are not supported in fielded search — "
            "BM25F's per-FIELD boosts rank; scope the leaf instead"
        )
    if not plans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double")
    # FUSED tail — see search(): mask rows and contribs share one shuffle
    parts, pred = _compile_fielded_mask_parts(
        spark, meta, layout_dir, plans, fuzzy_dir, allow_stale, exp_cache)
    assert parts
    return termindex.bm25f_topk(
        spark, layout_dir, sorted(scored_by_qid.items()), boosts=boosts,
        k=k, round_to=round_to, allow_stale=allow_stale,
        mask_parts=parts, mask_pred=pred,
    )
