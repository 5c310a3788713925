"""Query front door (gazetteer_spark/query.py): parser, mask compiler
(layout serving), scan compiler, filtered BM25, ranked search()."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gazetteer_spark import fuzzy as fz
from gazetteer_spark import query as Q
from gazetteer_spark.index import spimi, termindex


# ---------------------------------------------------------------------------
# parser (no Spark)
# ---------------------------------------------------------------------------

def test_parse_precedence_and_implicit_and():
    # OR binds loosest; adjacency is AND
    ast = Q.parse("customer OR filter group")
    assert ast == Q.Or((Q.Term("customer"),
                        Q.And((Q.Term("filter"), Q.Term("group")))))
    assert Q.parse("a b c") == Q.And((Q.Term("a"), Q.Term("b"), Q.Term("c")))
    assert Q.parse("a AND b") == Q.parse("a b")


def test_parse_parens_not_minus():
    ast = Q.parse("(a OR b) AND NOT c")
    assert ast == Q.And((Q.Or((Q.Term("a"), Q.Term("b"))),
                         Q.Not(Q.Term("c"))))
    assert Q.parse("a -b") == Q.And((Q.Term("a"), Q.Not(Q.Term("b"))))
    assert Q.parse("NOT NOT a AND b") == Q.And(
        (Q.Not(Q.Not(Q.Term("a"))), Q.Term("b")))


def test_parse_phrase_slop_fuzzy():
    assert Q.parse('"key order"') == Q.Phrase("key order", 0)
    assert Q.parse('"key order value"~3') == Q.Phrase("key order value", 3)
    assert Q.parse("grup~1") == Q.Fuzzy("grup", 1)
    assert Q.parse("grup~2 AND x") == Q.And(
        (Q.Fuzzy("grup", 2), Q.Term("x")))
    # lowercase and/or/not are plain terms
    assert Q.parse("a and b") == Q.And(
        (Q.Term("a"), Q.Term("and"), Q.Term("b")))


def test_parse_errors():
    for bad in ["", "   ", "(a", "a)", "a AND", "OR a", "a OR)", "()"]:
        with pytest.raises(ValueError):
            Q.parse(bad)


def test_parse_prefix():
    assert Q.parse("sp*") == Q.Prefix("sp")
    assert Q.parse("sp* AND x") == Q.And((Q.Prefix("sp"), Q.Term("x")))
    assert Q.parse("-sp*") == Q.Not(Q.Prefix("sp"))
    for bad in ["*", "a*b", "*ab", "a**", "ab*~1"]:
        with pytest.raises(ValueError):
            Q.parse(bad)


def test_normalize_prefix():
    tok = lambda s: [w for w in s.lower().split() if w.isalnum()]
    assert Q._normalize(Q.Prefix("Sp"), tok) == Q.Prefix("sp")
    with pytest.raises(ValueError, match="single-token"):
        Q._normalize(Q.Prefix("a b"), tok)


def test_normalize_rules():
    tok = lambda s: [w for w in s.lower().split() if w.isalnum()]
    # multi-token word → And; token-free word → FALSE (folds through Or)
    assert Q._normalize(Q.Term("A B"), tok) == Q.And(
        (Q.Term("a"), Q.Term("b")))
    assert Q._normalize(Q.Or((Q.Term("!!"), Q.Term("a"))), tok) == Q.Term("a")
    assert Q._normalize(Q.And((Q.Term("!!"), Q.Term("a"))), tok) is Q._FALSE
    # single-survivor phrase → Term; double negation folds
    assert Q._normalize(Q.Phrase("a !!"), tok) == Q.Term("a")
    assert Q._normalize(Q.Not(Q.Not(Q.Term("a"))), tok) == Q.Term("a")
    # normalization is idempotent on its own output
    n = Q._normalize(Q.parse('"key order" OR a~1'), tok)
    assert Q._normalize(n, tok) == n
    with pytest.raises(ValueError, match="single-token"):
        Q._normalize(Q.Fuzzy("a b"), tok)
    with pytest.raises(ValueError, match="distinct"):
        Q._normalize(Q.Phrase("a b a", slop=2), tok)


def test_pure_negative_and_leaf_cap():
    with pytest.raises(ValueError, match="pure-negative"):
        Q._check_tree(Q.Not(Q.Term("a")))
    # OR with a NOT branch still matches term-free docs → rejected too
    with pytest.raises(ValueError, match="pure-negative"):
        Q._check_tree(Q.Or((Q.Not(Q.Term("a")), Q.Term("b"))))
    # NOT guarded by a positive conjunct is fine
    Q._check_tree(Q.And((Q.Term("b"), Q.Not(Q.Term("a")))))
    Q._check_tree(Q.Or((Q.Term("c"),
                        Q.And((Q.Term("b"), Q.Not(Q.Term("a")))))))
    wide = Q.Or(tuple(Q.Term(f"t{i}") for i in range(Q.MAX_LEAVES + 1)))
    with pytest.raises(ValueError, match="leaves"):
        Q._check_tree(wide)


# ---------------------------------------------------------------------------
# compilers (Spark)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def served(spark, documents, tmp_path_factory):
    """(layout_dir, fuzzy_dir) over the full documents table."""
    idx = str(tmp_path_factory.mktemp("idx_query"))
    spimi.build_index(spark, documents, idx, n_shards=4, id_col="doc_id",
                      content_col="text", positions=True, doclens=True)
    lay = str(tmp_path_factory.mktemp("lay_query"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=16,
                                positions=True)
    fzd = str(tmp_path_factory.mktemp("fz_query"))
    fz.build_fuzzy_layout(spark, idx, fzd)
    return lay, fzd


QUERY_TABLE = [
    "customer AND filter",
    "customer filter group",
    "customer OR filter AND group",
    "(customer OR filter) AND NOT group",
    '"key order"',
    '"key order" OR (customer AND -filter)',
    '"key order value"~3 AND customer',
    "zz_absent OR customer",
    "NOT zz_absent AND customer",
    "grup~1 AND (customer OR filter)",
    '("key order" OR window) AND NOT (group AND sort)',
    "s* AND NOT (group OR sort)",
    "f* OR zz*",
    'sp* AND "key order"',
]


def _ids(df):
    return {r["docid"] for r in df.collect()}


def test_layout_matches_scan_table(spark, documents, served):
    lay, fzd = served
    for q in QUERY_TABLE:
        got = _ids(Q.match_layout(spark, lay, q, fuzzy_dir=fzd))
        want = _ids(Q.match_scan(documents, q, id_col="doc_id",
                                 content_col="text"))
        assert got == want, q
    # sanity: the table exercises non-empty results
    assert _ids(Q.match_scan(documents, QUERY_TABLE[0], id_col="doc_id",
                             content_col="text"))


def test_match_layout_one_shuffle_no_join_for_terms(spark, served):
    """Pure term-leaf trees compile to scan → bit_or aggregate → filter:
    no join of per-operator DataFrames, however the tree nests."""
    lay, _ = served
    df = Q.match_layout(
        spark, lay, "(customer OR filter) AND NOT (group OR sort)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only join is the broadcast term→mask map onto the pruned scan
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Exchange hashpartitioning") <= 2  # mask agg only


def test_fuzzy_leaf_needs_dir_and_expands(spark, documents, served):
    lay, fzd = served
    with pytest.raises(ValueError, match="fuzzy_dir"):
        Q.match_layout(spark, lay, "grup~1")  # no dir
    got = _ids(Q.match_layout(spark, lay, "grup~1", fuzzy_dir=fzd))
    want = _ids(Q.match_scan(documents, "grup~1", id_col="doc_id",
                             content_col="text"))
    assert got == want and got


def test_false_and_empty_results(spark, documents, served):
    lay, _ = served
    assert Q.match_layout(spark, lay, "zz_absent").count() == 0
    assert Q.match_layout(spark, lay, "zz_absent AND customer").count() == 0
    assert Q.match_scan(documents, "zz_absent AND customer",
                        id_col="doc_id", content_col="text").count() == 0


def test_filtered_bm25_matches_bruteforce(spark, served):
    lay, _ = served
    queries = [(0, "spark join merge"), (1, "the window")]
    filt = Q.match_layout(spark, lay, "(customer OR filter) AND NOT group")
    allowed = _ids(filt)
    got = termindex.bm25_topk(spark, lay, queries, k=10,
                              filter_by=filt).collect()
    full = termindex.bm25_topk(spark, lay, queries, k=10 ** 6).collect()
    want = []
    for qid in (0, 1):
        rows = sorted(((r["docid"], r["score"]) for r in full
                       if r["query_id"] == qid and r["docid"] in allowed),
                      key=lambda t: (-t[1], t[0]))
        want += [(qid, i + 1, d, s) for i, (d, s) in enumerate(rows[:10])]
    assert sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                  for r in got) == sorted(want)
    assert want  # non-degenerate


def test_filtered_bm25_gated_still_exact(spark, served):
    """Forced candidate gate + filter: θ₀ from FILTERED cheap docs —
    results must equal the ungated filtered ranking."""
    lay, _ = served
    filt = Q.match_layout(spark, lay, "customer OR filter OR key")
    q = [(0, "dup the"), (1, "dup window key")]
    gated = termindex.bm25_topk(spark, lay, q, k=5, filter_by=filt,
                                expensive_df=100).collect()
    plain = termindex.bm25_topk(spark, lay, q, k=5, filter_by=filt).collect()
    rows = lambda rs: sorted(
        (r["query_id"], r["rank"], r["docid"], r["score"]) for r in rs)
    assert rows(gated) == rows(plain) and gated


def test_search_plain_equals_and_filtered_bm25(spark, served):
    lay, _ = served
    got = Q.search(spark, lay, "spark join merge", k=10).collect()
    filt = Q.match_layout(spark, lay, "spark AND join AND merge")
    want = termindex.bm25_topk(spark, lay, [(0, "join merge spark")], k=10,
                               filter_by=filt).collect()
    assert got == want and got


def test_search_boolean_scores_positive_terms_only(spark, served):
    """`a OR b` relaxes the filter but keeps BM25 over {a, b}; negated
    terms never score."""
    lay, fzd = served
    got = Q.search(spark, lay, "spark OR merge AND NOT group", k=10).collect()
    filt = Q.match_layout(spark, lay, "spark OR merge AND NOT group")
    want = termindex.bm25_topk(spark, lay, [(0, "merge spark")], k=10,
                               filter_by=filt).collect()
    assert got == want and got
    with pytest.raises(ValueError, match="positive term"):
        Q.search(spark, lay, '"key order"')  # phrase-only: nothing to rank


def test_prefix_terms_probe_and_cap(spark, served):
    lay, _ = served
    idx = termindex._load_meta(lay)["source_index"]
    got = {r["term"] for r in fz.prefix_terms(spark, idx, "s").collect()}
    assert got and all(t.startswith("s") for t in got)
    # df values match global termstats
    ts = {r["term"]: r["df"] for r in spimi.load_termstats(spark, idx)
          .collect() if r["term"].startswith("s")}
    assert got == set(ts)
    with pytest.raises(ValueError, match="longer prefix"):
        fz.prefix_terms(spark, idx, "s", max_terms=len(got) - 1)
    with pytest.raises(ValueError, match="one token"):
        fz.prefix_terms(spark, idx, "a b")
    assert fz.prefix_terms(spark, idx, "zzqq").count() == 0


def test_search_prefix_scores_expansions(spark, served):
    lay, _ = served
    idx = termindex._load_meta(lay)["source_index"]
    exp = sorted(r["term"] for r in
                 fz.prefix_terms(spark, idx, "s").collect())
    q = "s* AND NOT (group OR sort)"
    got = Q.search(spark, lay, q, k=10).collect()
    filt = Q.match_layout(spark, lay, q)
    want = termindex.bm25_topk(spark, lay, [(0, " ".join(exp))], k=10,
                               filter_by=filt).collect()
    assert got == want and got


def test_parse_boosts():
    assert Q.parse("spark^2") == Q.Term("spark", boost=2.0)
    assert Q.parse("spark^0.5 AND join") == Q.And(
        (Q.Term("spark", boost=0.5), Q.Term("join")))
    assert Q.parse("grup~1^2") == Q.Fuzzy("grup", 1, boost=2.0)
    assert Q.parse("sp*^1.5") == Q.Prefix("sp", boost=1.5)
    assert Q.parse("src:spark^2") == Q.Term("spark", field="src",
                                            boost=2.0)
    for bad in ['"key order"^2', "spark^0", "spark^", "^2"]:
        with pytest.raises(ValueError):
            Q.parse(bad)


def test_boosted_search_matches_bruteforce(spark, served):
    """search('a^2 AND (b OR c^0.5)') == weighted sum of the per-term
    unrounded contributions, filtered, rounded, re-ranked."""
    lay, _ = served
    q = "spark^2 AND (join OR merge^0.5)"
    got = [(r["rank"], r["docid"], r["score"])
           for r in Q.search(spark, lay, q, k=10).collect()]
    weights = {"spark": 2.0, "join": 1.0, "merge": 0.5}
    per_term = {}
    for i, t in enumerate(sorted(weights)):
        for r in termindex.bm25_topk(spark, lay, [(i, t)], k=10 ** 6,
                                     round_to=None).collect():
            per_term.setdefault(r["docid"], {})[t] = r["score"]
    allowed = _ids(Q.match_layout(spark, lay,
                                  "spark AND (join OR merge)"))
    scored = sorted(
        ((round(sum(weights[t] * s for t, s in ts.items()), 4), d)
         for d, ts in per_term.items() if d in allowed),
        key=lambda p: (-p[0], p[1]))
    want = [(i + 1, d, s) for i, (s, d) in enumerate(scored[:10])]
    assert got == want and got
    # and the boost genuinely reorders vs the unboosted ranking
    plain = [(r["rank"], r["docid"], r["score"]) for r in
             Q.search(spark, lay, "spark AND (join OR merge)",
                      k=10).collect()]
    assert [d for _, d, _ in got] != [d for _, d, _ in plain]


def test_boosted_gated_still_exact(spark, served):
    lay, _ = served
    qw = {0: {"dup": 3.0}, 1: {"the": 0.25}}
    qs = [(0, "dup the"), (1, "dup window the")]
    gated = termindex.bm25_topk(spark, lay, qs, k=5, qweights=qw,
                                expensive_df=100).collect()
    plain = termindex.bm25_topk(spark, lay, qs, k=5, qweights=qw).collect()
    rows = lambda rs: sorted(
        (r["query_id"], r["rank"], r["docid"], r["score"]) for r in rs)
    assert rows(gated) == rows(plain) and gated
    with pytest.raises(ValueError, match="> 0"):
        termindex.bm25_topk(spark, lay, qs, k=5,
                            qweights={0: {"dup": 0.0}})


def test_match_layout_batch_plan_one_shuffle(spark, served):
    """A term-only BATCH compiles exactly like a single query: pruned
    scan → broadcast (term, query_id, mask) map → ONE bit_or aggregate —
    no sort-merge join, no per-query scan multiplication."""
    lay, _ = served
    df = Q.match_layout_batch(spark, lay, [
        (0, "(customer OR filter) AND NOT group"),
        (1, "window AND sort"),
        (2, "spark OR merge"),
    ])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Exchange hashpartitioning") <= 2


def test_match_layout_batch_equals_singles(spark, served):
    lay, fzd = served
    qs = list(enumerate(QUERY_TABLE))
    batch = {(r["query_id"], r["docid"]) for r in
             Q.match_layout_batch(spark, lay, qs, fuzzy_dir=fzd).collect()}
    singles = {(qid, r["docid"]) for qid, q in qs
               for r in Q.match_layout(spark, lay, q,
                                       fuzzy_dir=fzd).collect()}
    assert batch == singles and batch
    with pytest.raises(ValueError, match="duplicate query_id"):
        Q.match_layout_batch(spark, lay, [(0, "a"), (0, "b")])


def test_search_batch_equals_singles(spark, served):
    lay, fzd = served
    qs = [(0, "spark AND (join OR merge)"), (1, "customer OR filter"),
          (2, 's* AND NOT group'), (3, 'grup~1 AND customer')]
    got = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                 for r in Q.search_batch(spark, lay, qs, k=10,
                                         fuzzy_dir=fzd).collect())
    want = sorted((qid, r["rank"], r["docid"], r["score"])
                  for qid, q in qs
                  for r in Q.search(spark, lay, q, k=10,
                                    fuzzy_dir=fzd).collect())
    assert got == want and got


def test_reader_match_and_search(spark, served):
    lay, fzd = served
    qs = [(0, "customer AND filter"), (1, '"key order" OR window')]
    sq = [(0, "spark AND (join OR merge)"), (1, "customer OR filter")]
    rd = termindex.TermLayoutReader(spark, lay)
    try:
        got_m = {(r["query_id"], r["docid"]) for r in
                 rd.match(qs, fuzzy_dir=fzd).collect()}
        want_m = {(r["query_id"], r["docid"]) for r in
                  Q.match_layout_batch(spark, lay, qs,
                                       fuzzy_dir=fzd).collect()}
        assert got_m == want_m and got_m
        got_s = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                       for r in rd.search(sq, k=10).collect())
        want_s = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                        for r in Q.search_batch(spark, lay, sq,
                                                k=10).collect())
        assert got_s == want_s and got_s
    finally:
        rd.close()


def test_facet_counts_matches_bruteforce(spark, documents, served):
    lay, _ = served
    q = "(customer OR filter) AND NOT group"
    got = {(r["facet"], r["value"]): r["n"] for r in
           Q.facet_counts(spark, lay, documents, q, ["lang", "source"],
                          id_col="doc_id").collect()}
    matched = _ids(Q.match_scan(documents, q, id_col="doc_id",
                                content_col="text"))
    rows = documents.filter(F.col("doc_id").isin(sorted(matched))) \
        .select("doc_id", "lang", "source").collect()
    want: dict = {}
    for r in rows:
        for f in ("lang", "source"):
            key = (f, str(r[f]))
            want[key] = want.get(key, 0) + 1
    assert got == want and got
    with pytest.raises(ValueError, match="facet"):
        Q.facet_counts(spark, lay, documents, q, [], id_col="doc_id")


def test_more_like_this(spark, documents, served):
    lay, _ = served
    got = Q.more_like_this(spark, lay, documents, 42, k=5, max_terms=6,
                           id_col="doc_id", content_col="text").collect()
    assert len(got) == 5
    assert all(r["docid"] != 42 for r in got)
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    # deterministic
    again = Q.more_like_this(spark, lay, documents, 42, k=5, max_terms=6,
                             id_col="doc_id", content_col="text").collect()
    assert got == again
    # the top hit shares vocabulary with the seed doc
    from gazetteer_spark.analyzer import py_tokenize
    texts = {r["doc_id"]: r["text"] for r in
             documents.filter(F.col("doc_id").isin([42, got[0]["docid"]]))
             .collect()}
    assert set(py_tokenize(texts[42])) & set(py_tokenize(
        texts[got[0]["docid"]]))
    with pytest.raises(ValueError, match="not found"):
        Q.more_like_this(spark, lay, documents, -1, id_col="doc_id",
                         content_col="text")


def test_search_fuzzy_scores_expansions(spark, served):
    lay, fzd = served
    got = Q.search(spark, lay, "grup~1 AND customer", k=10,
                   fuzzy_dir=fzd).collect()
    exp = sorted(r["term"] for r in
                 fz.fuzzy_terms_edit(spark, fzd, "grup", 1).collect())
    filt = Q.match_layout(spark, lay, "grup~1 AND customer", fuzzy_dir=fzd)
    want = termindex.bm25_topk(
        spark, lay, [(0, " ".join(sorted(set(exp + ["customer"]))))],
        k=10, filter_by=filt).collect()
    assert got == want and got


# ---------------------------------------------------------------------------
# fused filter+scoring tail (round-6 optimization pin)
# ---------------------------------------------------------------------------

FUSED_QUERIES = [
    "spark AND (join OR merge)",
    '"key order" OR (customer AND -filter)',
    "customer^2 OR filter",
    '"key order" OR window',
]


def _ranked(df):
    return [(r["query_id"], r["rank"], r["docid"], r["score"])
            for r in df.collect()]


def test_fused_search_equals_filter_by_composition(spark, served):
    """search()/search_batch's fused tail (mask rows union into the
    scoring aggregation) must be row-identical to the unfused
    composition: bm25_topk(filter_by=match_layout_batch(...)) — the
    round-5 serving shape. Covers OR-of-phrase (docs matching only via
    the phrase leaf must stay excluded → score IS NOT NULL) and boosts."""
    lay, fzd = served
    for q in FUSED_QUERIES:
        fused = Q.search(spark, lay, q, k=10, fuzzy_dir=fzd)
        node = Q._normalize(
            Q.parse(q), __import__(
                "gazetteer_spark.analyzer", fromlist=["py_tokenize"]
            ).py_tokenize)
        scored: dict = {}
        meta = termindex._load_meta(lay)
        exp = Q._expand_leaves(spark, meta, fzd, Q._check_tree(node))
        Q._positive_terms(node, scored, expansions=exp)
        filt = Q.match_layout(spark, lay, node, fuzzy_dir=fzd)
        boosted = {t: w for t, w in scored.items() if w != 1.0}
        unfused = termindex.bm25_topk(
            spark, lay, [(0, " ".join(sorted(scored)))], k=10,
            filter_by=filt, qweights={0: boosted} if boosted else None,
        )
        assert sorted(_ranked(fused)) == sorted(_ranked(unfused)), q


def test_fused_batch_search_equals_per_query(spark, served):
    lay, fzd = served
    batch = Q.search_batch(
        spark, lay, list(enumerate(FUSED_QUERIES)), k=5, fuzzy_dir=fzd)
    got = sorted(_ranked(batch))
    want = []
    for i, q in enumerate(FUSED_QUERIES):
        one = Q.search(spark, lay, q, k=5, fuzzy_dir=fzd)
        want.extend((i, r, d, s) for (_, r, d, s) in _ranked(one))
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# layout reader: driver-side state only, job-count pins
# ---------------------------------------------------------------------------

# one leaf kind each: term, boolean, phrase, NEAR, prefix, fuzzy
MIXED_BATCH = [
    (0, "customer"),
    (1, "customer OR filter AND group"),
    (2, '"key order" AND customer'),
    (3, '"key order value"~3 AND customer'),
    (4, "s* AND NOT group"),
    (5, "grup~1 AND customer"),
]


def _job_tasks(spark, fn):
    """(fn's result, Spark jobs, tasks) counted under fn's own job group,
    after the listener bus has delivered every event to the tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s) for j in jobs
              for s in st.getJobInfo(j).stageIds]
    return out, len(jobs), sum(s.numTasks for s in stages if s is not None)


def _jobs(spark, fn):
    """(fn's result, Spark jobs it ran), counted under its own job group."""
    out, n_jobs, _ = _job_tasks(spark, fn)
    return out, n_jobs


def test_open_reader_caches_nothing(spark, served):
    """An open TermLayoutReader pins no Spark data: the cache manager
    stays empty and a cold query's plan reads the pruned layout files,
    never an in-memory relation."""
    lay, fzd = served
    # the test session is shared: start from an empty cache manager
    # (other modules' fixtures leave cached frames behind)
    spark.catalog.clearCache()
    rd = termindex.TermLayoutReader(spark, lay)
    try:
        rd.search(MIXED_BATCH, k=10, fuzzy_dir=fzd).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        cold = Q.search(spark, lay, "customer AND filter", k=10)
        assert cold.collect()
        qe = cold._jdf.queryExecution()
        assert "InMemoryRelation" not in qe.withCachedData().toString()
        assert "InMemoryTableScan" not in qe.executedPlan().toString()
    finally:
        rd.close()


def test_reader_search_job_counts(spark, served):
    """A reader batch runs no more jobs than the cold batched front door
    and returns the same rows."""
    lay, fzd = served
    cold, n_cold = _jobs(spark, lambda: _ranked(Q.search_batch(
        spark, lay, MIXED_BATCH, k=10, fuzzy_dir=fzd)))
    rd = termindex.TermLayoutReader(spark, lay)
    try:
        warm, n_warm = _jobs(spark, lambda: _ranked(rd.search(
            MIXED_BATCH, k=10, fuzzy_dir=fzd)))
    finally:
        rd.close()
    assert sorted(warm) == sorted(cold) and cold
    assert {q for q, *_ in cold} == {q for q, _ in MIXED_BATCH}
    assert n_warm <= n_cold


def test_cold_single_term_search_jobs(spark, served):
    """A cold single-term query.search runs at most 3 Spark jobs: every
    parquet read declares its schema, so none pays a schema-inference
    job."""
    lay, _ = served
    rows, n = _jobs(spark, lambda: Q.search(spark, lay, "customer",
                                            k=10).collect())
    assert rows
    assert n <= 3


# ---------------------------------------------------------------------------
# Python tasks follow bytes read: literal frames start no task, the pruned
# layout scan is sized by the bytes of the bucket files it touches
# ---------------------------------------------------------------------------

def test_empty_answers_run_no_job(spark, served):
    """An out-of-vocabulary query.search, and empty bm25_topk,
    phrase_match and wand.topk answers, run no Spark job: their empty
    result is a literal frame, which folds away in the JVM."""
    from gazetteer_spark.index import wand

    lay, _ = served
    idx = termindex._load_meta(lay)["source_index"]
    calls = {
        "search": lambda: Q.search(spark, lay, "zzqqxx", k=10),
        "bm25_topk": lambda: termindex.bm25_topk(spark, lay, [(0, "zzqqxx")]),
        "phrase_match": lambda: termindex.phrase_match(
            spark, lay, [(0, "zzqqxx customer")]),
        "wand.topk": lambda: wand.topk(spark, idx, [(0, "zzqqxx")], k=10),
    }
    for name, call in calls.items():
        rows, n_jobs, _ = _job_tasks(spark, lambda: call().collect())
        assert rows == [], name
        assert n_jobs == 0, name


def test_cold_search_tasks_follow_bytes_not_buckets(spark, served):
    """A cold query.search whose terms fall in ≥ 3 buckets runs no more
    tasks than a single-term one: the touched bucket files hold a few KB,
    so the pruned scan (and every Python task over it) is one task
    however many files it touches."""
    lay, _ = served
    meta = termindex._load_meta(lay)
    words, buckets = [], set()
    for w in ["customer", "filter", "group", "window", "sort", "key",
              "order", "value", "spark", "join"]:
        b = termindex._buckets_for(None, [w], meta["n_buckets"])[0]
        if b not in buckets:
            words.append(w)
            buckets.add(b)
    assert len(buckets) >= 3
    one, _, t_one = _job_tasks(spark, lambda: _ranked(
        Q.search(spark, lay, "customer", k=10)))
    many, _, t_many = _job_tasks(spark, lambda: _ranked(
        Q.search(spark, lay, " OR ".join(words), k=10)))
    assert one and many
    assert t_many <= t_one


def test_positional_plan_shape_pins(spark, served):
    """Spark jobs and tasks of the positional serving paths, pinned at
    their measured values: a cold phrase query.search, a cold NEAR
    query.search and a 3-query termindex.phrase_match batch each run one
    job of one task (the pruned scan, the occurrence shuffle and the
    verify fit one task on this corpus)."""
    lay, _ = served
    calls = {
        "phrase": lambda: _ranked(Q.search(
            spark, lay, '"key order" AND customer', k=10)),
        "near": lambda: _ranked(Q.search(
            spark, lay, '"key order value"~3 AND customer', k=10)),
        "phrase_match batch": lambda: termindex.phrase_match(
            spark, lay, [(0, "key order"), (1, "order value"),
                         (2, "customer filter")]).collect(),
    }
    for name, call in calls.items():
        rows, n_jobs, n_tasks = _job_tasks(spark, call)
        assert rows, name
        assert (n_jobs, n_tasks) == (1, 1), name


def test_refresh_runs_the_jobs_of_a_build(spark, documents,
                                          tmp_path_factory):
    """A layout refresh is a rebuild: at the same snapshot it runs
    exactly the Spark jobs of build_term_layout, after an adds-only delta
    and after a delta with deletes (no delta probe, no affected-bucket
    job)."""
    idx = str(tmp_path_factory.mktemp("idx_refresh_jobs"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), idx,
                      n_shards=4, id_col="doc_id", content_col="text",
                      positions=True, doclens=True)
    lay = str(tmp_path_factory.mktemp("lay_refresh_jobs"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=8,
                                positions=True)
    deltas = [
        lambda: spimi.add_documents(
            spark, documents.filter(F.col("doc_id") >= 300), idx,
            id_col="doc_id", content_col="text"),
        lambda: spimi.delete_documents(spark, [3, 30, 301], idx),
    ]
    for i, delta in enumerate(deltas):
        delta()
        new = str(tmp_path_factory.mktemp(f"lay_refresh_jobs{i}"))
        _, refresh_jobs = _jobs(spark, lambda: (
            termindex.refresh_term_layout(spark, idx, lay, new)))
        _, build_jobs = _jobs(spark, lambda: (
            termindex.build_term_layout(
                spark, idx, new + "_rebuilt", n_buckets=8, positions=True)))
        assert refresh_jobs == build_jobs > 0, i
        lay = new
