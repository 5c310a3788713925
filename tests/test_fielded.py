"""Fielded documents / BM25F: index-served path vs exact corpus-scan twin,
boost semantics, incremental adds, deletes, compaction.

Reference analog: the multi-field search doc with level-size weighting
(`GazetteerOutWriter.java:455-550,739-801`, `addresses/Constants.java:31-59`).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gazetteer_spark import fielded
from gazetteer_spark.index import spimi

FIELDS = {"body": "text", "src": "source", "lang": "lang"}
BOOSTS = {"body": 1.0, "src": 2.0, "lang": 0.5}
QUERIES = [
    (0, "spark join src13"),
    (1, "window src8"),
    (2, "customer filter en"),
    (3, "the"),
]


@pytest.fixture(scope="module")
def fidx(spark, documents, tmp_path_factory):
    # positions=True: the SAME index serves scoring (stream ignored) and
    # phrase-within-field — every test below doubles as positional-fielded
    # coverage
    d = str(tmp_path_factory.mktemp("fidx"))
    fielded.build_fielded_index(spark, documents, d, FIELDS, n_shards=8,
                                id_col="doc_id", positions=True)
    return d


def _rows(df):
    return [(r["query_id"], r["rank"], r["docid"], r["score"])
            for r in df.orderBy("query_id", "rank").collect()]


def test_index_matches_exact(spark, documents, fidx):
    got = _rows(fielded.fielded_topk(spark, fidx, QUERIES, boosts=BOOSTS, k=10))
    want = _rows(fielded.bm25f_topk(spark, documents, "doc_id", FIELDS,
                                    QUERIES, boosts=BOOSTS, k=10))
    assert got == want and len(got) > 0


def test_boosts_change_ranking(spark, documents, fidx):
    """With src heavily boosted, every top hit for a src-term query is a doc
    from that source; with boost ~0 the src term barely matters."""
    hi = fielded.fielded_topk(spark, fidx, [(0, "src13")],
                              boosts={"src": 10.0}, k=5).collect()
    src_of = {r["doc_id"]: r["source"]
              for r in documents.select("doc_id", "source").collect()}
    assert hi and all(src_of[r["docid"]] == "src13" for r in hi)


def test_incremental_add_matches_oneshot(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fidx_add"))
    fielded.build_fielded_index(
        spark, documents.filter(F.col("doc_id") < 300), d, FIELDS,
        n_shards=8, id_col="doc_id")
    fielded.add_fielded_documents(
        spark, documents.filter(F.col("doc_id") >= 300), d, FIELDS,
        id_col="doc_id")
    got = _rows(fielded.fielded_topk(spark, d, QUERIES, boosts=BOOSTS, k=10))
    want = _rows(fielded.bm25f_topk(spark, documents, "doc_id", FIELDS,
                                    QUERIES, boosts=BOOSTS, k=10))
    assert got == want


def test_delete_and_compact(spark, documents, fidx, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fidx_del"))
    fielded.build_fielded_index(spark, documents, d, FIELDS, n_shards=8,
                                id_col="doc_id")
    top = fielded.fielded_topk(spark, d, [(0, "spark join src13")],
                               boosts=BOOSTS, k=3).collect()
    victims = [r["docid"] for r in top]
    spimi.delete_documents(spark, victims, d)
    after = fielded.fielded_topk(spark, d, QUERIES, boosts=BOOSTS, k=10).collect()
    assert not ({r["docid"] for r in after} & set(victims))

    # compaction rebuilds composite postings + fdocs rows; results equal a
    # fresh fielded build over the surviving corpus
    compacted = str(tmp_path_factory.mktemp("fidx_compact"))
    spimi.compact_index(spark, d, compacted)
    fresh = str(tmp_path_factory.mktemp("fidx_fresh"))
    fielded.build_fielded_index(
        spark, documents.filter(~F.col("doc_id").isin(victims)), fresh,
        FIELDS, n_shards=8, id_col="doc_id")
    man_a = {(r["generation"], r["shard"]): r["checksum"]
             for r in spimi.load_manifest(spark, compacted).collect()}
    man_b = {(r["generation"], r["shard"]): r["checksum"]
             for r in spimi.load_manifest(spark, fresh).collect()}
    assert man_a == man_b
    got = _rows(fielded.fielded_topk(spark, compacted, QUERIES,
                                     boosts=BOOSTS, k=10))
    want = _rows(fielded.fielded_topk(spark, fresh, QUERIES,
                                      boosts=BOOSTS, k=10))
    assert got == want


def test_fielded_reader_warm_matches_cold(spark, fidx):
    """FieldedReader (pinned segments + memoized df) is rank-identical to
    the cold path, including on repeat queries that hit the df cache."""
    r = fielded.FieldedReader(spark, fidx)
    try:
        warm1 = _rows(r.topk(QUERIES, boosts=BOOSTS, k=10))
        warm2 = _rows(r.topk(QUERIES, boosts=BOOSTS, k=10))  # cache hit
        cold = _rows(fielded.fielded_topk(spark, fidx, QUERIES,
                                          boosts=BOOSTS, k=10))
        assert warm1 == warm2 == cold and warm1
        # only the first call pays df lookups
        assert all(t in r._df_cache for _, text in QUERIES
                   for t in text.split() if t.isalnum())
        # warm positional serving over the same pinned segments
        wp = {(x["docid"], x["n_occurrences"])
              for x in r.phrase_match("body", "table hash").collect()}
        cp = {(x["docid"], x["n_occurrences"])
              for x in fielded.fielded_phrase_match(
                  spark, fidx, "body", "table hash").collect()}
        assert wp == cp and wp
    finally:
        r.close()


def test_fielded_phrase_batch_matches_single(spark, fidx):
    """N phrase-within-field queries (mixed fields) in ONE job equal the
    per-query results row-for-row."""
    batch = [(0, "body", "table hash"), (1, "body", "key order"),
             (2, "src", "src13")]
    got: dict[int, set] = {0: set(), 1: set(), 2: set()}
    for r in fielded.fielded_phrase_match_batch(spark, fidx, batch).collect():
        got[r["query_id"]].add((r["docid"], r["n_occurrences"]))
    for qid, field, phrase in batch:
        want = {(r["docid"], r["n_occurrences"]) for r in
                fielded.fielded_phrase_match(spark, fidx, field,
                                             phrase).collect()}
        assert got[qid] == want, qid
    assert got[0] and got[1] and got[2]


def test_fielded_scan_pruned_and_index_only(spark, fidx):
    """Scale shape: the serving scan pushes the composite-term In + kind
    predicate into the parquet scan (a query touches its query terms'
    rows, fdocs and dels — never the whole posting set) and reads ONLY
    index files (never the corpus)."""
    df = fielded.fielded_topk(spark, fidx, [(0, "spark join src13")],
                              boosts=BOOSTS, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg_scans = [ln for ln in plan.splitlines()
                 if "FileScan parquet" in ln and "/segments" in ln]
    assert seg_scans and all(
        "= post" in ln and " IN (" in ln for ln in seg_scans), plan
    assert all(fidx in f for f in df.inputFiles())


def test_plain_add_rejected_on_fielded_index(spark, documents, fidx):
    with pytest.raises(ValueError, match="fielded"):
        spimi.add_documents(spark, documents.limit(1), fidx,
                            id_col="doc_id", content_col="text")


def test_fielded_phrase_matches_corpus_scan(spark, documents, fidx):
    """Phrase-within-field from the positional fielded index equals the
    corpus-scan shingle oracle over the field's source column."""
    from gazetteer_spark.analyzer import shingles_expr, tokens_expr

    got = {(r["docid"], r["n_occurrences"]) for r in
           fielded.fielded_phrase_match(
               spark, fidx, "body", "table hash").collect()}
    occ = documents.select(
        F.col("doc_id").alias("docid"),
        F.explode(shingles_expr(tokens_expr(F.col("text")), 2)).alias("sh"),
    )
    want = {(r["docid"], r["n"]) for r in
            occ.filter(F.col("sh") == "table hash").groupBy("docid")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and got


def test_fielded_phrase_is_field_local(spark, tmp_path_factory):
    """Positions are FIELD-LOCAL: a phrase spanning a field boundary
    ('alpha' ending field a, 'beta' starting field b) must not match;
    NEAR within a field sees only that field's token stream. Incremental
    adds merge positional composite generations correctly."""
    docs = spark.createDataFrame(
        [(1, "alpha beta end", "zzz"), (2, "start alpha", "beta more")],
        "docid long, f1 string, f2 string",
    )
    flds = {"a": "f1", "b": "f2"}
    d = str(tmp_path_factory.mktemp("fidx_local"))
    fielded.build_fielded_index(spark, docs, d, flds, n_shards=2,
                                id_col="docid", positions=True)
    got = fielded.fielded_phrase_match(spark, d, "a", "alpha beta").collect()
    assert [(r["docid"], r["n_occurrences"]) for r in got] == [(1, 1)]
    near = fielded.fielded_near_match(spark, d, "a", "alpha", "beta",
                                      k=5).collect()
    assert {r["docid"] for r in near} == {1}
    with pytest.raises(ValueError, match="unknown field"):
        fielded.fielded_phrase_match(spark, d, "nope", "alpha beta")

    add = spark.createDataFrame([(3, "alpha beta", "x")],
                                "docid long, f1 string, f2 string")
    fielded.add_fielded_documents(spark, add, d, flds, id_col="docid")
    got2 = {(r["docid"], r["n_occurrences"]) for r in
            fielded.fielded_phrase_match(spark, d, "a", "alpha beta").collect()}
    assert got2 == {(1, 1), (3, 1)}


def test_fielded_near_n_equals_plain_on_body(spark, documents, fidx,
                                             tmp_path_factory):
    """N-term NEAR within the body field (= the text column) must equal
    the plain positional index's near_match_n over the same corpus — the
    composite-term machinery is semantics-identical when the field spans
    the whole document."""
    from gazetteer_spark.index import phrase

    d = str(tmp_path_factory.mktemp("plain_pos"))
    spimi.build_index(spark, documents, d, n_shards=4, id_col="doc_id",
                      content_col="text", positions=True)
    got = {(r["docid"], r["n_anchors"]) for r in
           fielded.fielded_near_match_n(
               spark, fidx, "body", ["key", "order", "sort"], k=4).collect()}
    want = {(r["docid"], r["n_anchors"]) for r in
            phrase.near_match_n(spark, d, ["key", "order", "sort"],
                                k=4).collect()}
    assert got == want and got


def test_fielded_phrase_topk_ranks_candidates(spark, fidx):
    """Ranked phrase-within-field: results ⊆ the phrase-match candidate
    set, ranks contiguous, order pinned (score desc, docid asc). Value
    correctness vs the BM25F equations is the DuckDB oracle's job
    (ft_fielded_phrase_topk)."""
    got = fielded.fielded_phrase_topk(
        spark, fidx, "body", "table hash", boosts=BOOSTS, k=5
    ).orderBy("rank").collect()
    cand = {r["docid"] for r in fielded.fielded_phrase_match(
        spark, fidx, "body", "table hash").collect()}
    assert got and all(r["docid"] in cand for r in got)
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
    keys = [(-r["score"], r["docid"]) for r in got]
    assert keys == sorted(keys)


def test_fielded_phrase_requires_positions(spark, documents,
                                           tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fidx_nopos"))
    fielded.build_fielded_index(spark, documents.limit(50), d, FIELDS,
                                n_shards=2, id_col="doc_id")
    with pytest.raises(ValueError, match="positions"):
        fielded.fielded_phrase_match(spark, d, "body", "key order")


def test_fielded_blockmax_skips_high_df_full_decode(
    spark, documents, tmp_path_factory, monkeypatch
):
    """MaxScore pruning: once θ is set by the rare term, the stopword's
    upper bound cannot beat it, so its composite postings are NEVER fully
    decoded (only candidate-holding blocks are touched) — the fielded twin
    of wand.py's update-only phase. Results stay exact (pinned by
    test_index_matches_exact and the random-boost property test)."""
    from gazetteer_spark.index.scoring import idf as _idf

    d = str(tmp_path_factory.mktemp("fidx_bm"))
    fielded.build_fielded_index(spark, documents, d, FIELDS, n_shards=1,
                                id_col="doc_id")
    stats = spimi.load_stats(d)
    seg = spimi.committed_segments(spark, d)
    terms = ["dup", "the"]
    dfs = fielded._df_job(seg, stats["fields"], terms)
    assert dfs["the"] > 10 * dfs["dup"]  # genuinely high-df stopword
    qplans = [(0, [(t, _idf(stats["n_docs"], dfs[t])) for t in terms])]
    avglen = {f: stats["field_totals"][f] / stats["n_docs"]
              for f in stats["fields"]}
    pdf = fielded._relevant_fielded(seg, stats["fields"], terms).toPandas()

    full_decoded: list[str] = []
    orig = fielded._decode_composite

    def spy(p, comp, dels):
        full_decoded.append(comp)
        return orig(p, comp, dels)

    monkeypatch.setattr(fielded, "_decode_composite", spy)
    out = fielded._score_shard_fielded(
        pdf, qplans, stats["fields"], BOOSTS, avglen, 3, 4, 4096
    )
    assert len(out) > 0
    the_full = [c for c in full_decoded
                if c.split(spimi.FIELD_SEP, 1)[1] == "the"]
    assert the_full == [], full_decoded  # stopword never fully decoded
    assert any(c.split(spimi.FIELD_SEP, 1)[1] == "dup"
               for c in full_decoded)  # the rare term did introduce


def test_bm25f_random_boosts_index_equals_exact(spark, documents,
                                                tmp_path_factory):
    """Seeded-random boosts: the index-served scorer and the exact
    corpus-scan twin implement the same frozen BM25F equations for ANY
    boost assignment, not just the catalog's."""
    import random

    rng = random.Random(417)
    d = str(tmp_path_factory.mktemp("fidx_rand"))
    fielded.build_fielded_index(spark, documents.limit(250), d, FIELDS,
                                n_shards=8, id_col="doc_id")
    for trial in range(3):
        boosts = {f: round(rng.uniform(0.1, 5.0), 3) for f in FIELDS}
        qs = [(0, "spark join src13"), (1, "customer en src8")]
        got = _rows(fielded.fielded_topk(spark, d, qs, boosts=boosts, k=10))
        want = _rows(fielded.bm25f_topk(
            spark, documents.limit(250), "doc_id", FIELDS, qs,
            boosts=boosts, k=10))
        assert got == want and got, boosts


# ---------------------------------------------------------------------------
# MaxScore-vs-exhaustive property test (pandas level — no Spark in the loop)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _shard_pdf_from_postings(rows):
    """rows: (docid, field, term, tf) → one shard's segment pdf via the
    real pandas assembler (composite terms + fdocs rows + blockmeta)."""
    import pandas as pd

    from gazetteer_spark.index.spimi import FIELD_SEP, _build_shard

    flat = pd.DataFrame(rows, columns=["docid", "field", "term", "tf"])
    flat["term"] = flat["field"] + FIELD_SEP + flat["term"]
    flat["shard"] = 0
    out = _build_shard(flat)
    out["gen"] = 0
    return out


_doc_st = st.lists(  # per doc: per-field term multiset over a tiny vocab
    st.tuples(
        st.sampled_from(["fa", "fb", "fc"]),
        st.sampled_from(["the", "red", "blue", "fox", "dog", "ox"]),
        st.integers(min_value=1, max_value=4),
    ),
    min_size=1, max_size=8, unique_by=lambda r: (r[0], r[1]),
)


@settings(max_examples=150, deadline=None)
@given(
    docs=st.lists(_doc_st, min_size=1, max_size=14),
    boosts=st.dictionaries(
        st.sampled_from(["fa", "fb", "fc"]),
        st.sampled_from([0.0, 0.5, 1.0, 2.7]),
        max_size=3,
    ),
    qterms=st.lists(
        st.sampled_from(["the", "red", "blue", "fox", "dog", "ox", "zz"]),
        min_size=1, max_size=4, unique=True,
    ),
    k=st.integers(min_value=1, max_value=5),
)
def test_fielded_maxscore_equals_exhaustive_property(docs, boosts, qterms, k):
    """The MaxScore/block-max fielded scorer must produce the SAME final
    top-k as a from-scratch pure-Python BM25F over random corpora, query
    term sets (incl. stopword-heavy and absent terms), boosts (incl. 0),
    and k — pruning can never change ranks."""
    import numpy as np

    from gazetteer_spark import B, K1
    from gazetteer_spark.fielded import _score_shard_fielded
    from gazetteer_spark.index.scoring import idf as _idf

    rows = [(docid, f, t, tf) for docid, doc in enumerate(docs)
            for f, t, tf in doc]
    fields = sorted({"fa", "fb", "fc"})
    pdf = _shard_pdf_from_postings(rows)

    # pure-Python reference model
    flen: dict[tuple[int, str], int] = {}
    tf_map: dict[tuple[int, str, str], int] = {}
    for docid, f, t, tf in rows:
        flen[(docid, f)] = flen.get((docid, f), 0) + tf
        tf_map[(docid, f, t)] = tf_map.get((docid, f, t), 0) + tf
    n_docs = len({d for d, _, _, _ in rows})
    totals = {f: sum(v for (d, ff), v in flen.items() if ff == f)
              for f in fields}
    avglen = {f: totals[f] / n_docs for f in fields if totals[f] > 0}
    df = {t: len({d for (d, f, tt) in tf_map if tt == t})
          for t in set(qterms)}
    present = [t for t in sorted(set(qterms)) if df.get(t, 0) > 0]
    qplans = [(0, [(t, _idf(n_docs, df[t])) for t in present])]

    scores: dict[int, float] = {}
    for d in {dd for dd, _, _, _ in rows}:
        s = 0.0
        holds = False  # candidate iff some query term occurs in some field
        for t, idf in qplans[0][1]:
            tfw = 0.0
            for f in fields:
                tf = tf_map.get((d, f, t), 0)
                if tf == 0 or f not in avglen:
                    continue
                holds = True
                tfw += (boosts.get(f, 1.0) * tf
                        / (1.0 - B + B * flen[(d, f)] / avglen[f]))
            if tfw > 0:
                s += idf * tfw / (K1 + tfw)
        if holds:  # a zero-boost match scores 0.0 but IS a result row
            scores[d] = s
    expect = sorted(
        ((round(s, 4), d) for d, s in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:k]

    if not present:
        return  # engine impl is only invoked with non-empty plans
    out = _score_shard_fielded(pdf, qplans, fields, boosts, avglen, k, 4,
                               4096)
    got = sorted(
        ((round(float(s), 4), int(d))
         for d, s in zip(out["docid"], out["score"])),
        key=lambda x: (-x[0], x[1]),
    )[:k]
    assert got == expect, (rows, boosts, qterms, k)


def test_fielded_near_rejects_multi_token_terms(spark, fidx):
    """The pairwise NEAR takes exactly one analyzed token per side —
    silently matching only the FIRST token of a multi-token input (e.g.
    'sortKey' → ['sort', 'key']) would answer a narrower question than
    asked; the API raises and points at fielded_near_match_n instead."""
    with pytest.raises(ValueError, match="exactly one"):
        fielded.fielded_near_match(spark, fidx, "body", "sortKey", "order")
    with pytest.raises(ValueError, match="exactly one"):
        fielded.fielded_near_match(spark, fidx, "body", "key", "hashTable")


def test_unit_maxscore_skips_low_boost_wide_field(spark, tmp_path_factory,
                                                  monkeypatch):
    """Per-(field, term) MaxScore units: a term living in BOTH a high-boost
    narrow field and a LOW-boost wide field must never fully decode the
    wide field's composite postings — the wide unit sorts below θ once the
    narrow unit has filled the top-k, so it runs update-only (block-
    selective decode). This is the field-granular pruning the per-TERM
    bound (fields summed) could not express: the summed bound was dragged
    up by the narrow field, forcing a full decode of the wide postings."""
    from gazetteer_spark.index.scoring import idf as _idf

    rows = []
    for i in range(6):  # narrow field fa: 'tag' + a filler
        rows.append((i, f"tag only{i}", "tag pad"))
    for i in range(6, 40):  # wide field fb: every doc holds 'tag'
        rows.append((i, f"other{i}", "tag filler words here"))
    docs = spark.createDataFrame(rows, "docid long, fa string, fb string")
    d = str(tmp_path_factory.mktemp("fidx_units"))
    fields = {"fa": "fa", "fb": "fb"}
    fielded.build_fielded_index(spark, docs, d, fields, n_shards=1,
                                id_col="docid")
    stats = spimi.load_stats(d)
    seg = spimi.committed_segments(spark, d)
    boosts = {"fa": 5.0, "fb": 0.01}
    dfs = fielded._df_job(seg, stats["fields"], ["tag"])
    qplans = [(0, [("tag", _idf(stats["n_docs"], dfs["tag"]))])]
    avglen = {f: stats["field_totals"][f] / stats["n_docs"]
              for f in stats["fields"]}
    pdf = fielded._relevant_fielded(seg, stats["fields"], ["tag"]).toPandas()

    full_decoded: list[str] = []
    orig = fielded._decode_composite

    def spy(p, comp, dels):
        full_decoded.append(comp)
        return orig(p, comp, dels)

    monkeypatch.setattr(fielded, "_decode_composite", spy)
    out = fielded._score_shard_fielded(
        pdf, qplans, stats["fields"], boosts, avglen, 3, 4, 4096
    )
    assert len(out) >= 3
    # top-3 are fa holders (boost 5 vs 0.01)
    top = out.sort_values("score", ascending=False)["docid"].head(3).tolist()
    assert set(top) <= set(range(6))
    by_field = {c.split(spimi.FIELD_SEP, 1)[0] for c in full_decoded}
    assert "fa" in by_field            # narrow unit introduced
    assert "fb" not in by_field, full_decoded  # wide unit never full-decoded


def test_fielded_v3_per_field_doclen_stream(spark, documents,
                                            tmp_path_factory):
    """Fielded layout v3: each composite field\\x1fterm post row carries a
    doclen stream of PER-FIELD lengths (the normalization length BM25F
    applies to that posting), aligned with posting order and equal to the
    shard's fdocs tables — the precondition for building fielded term
    layouts without a doclen-resolve stage."""
    from gazetteer_spark.index.codec import _varbyte_decode, decode_postings

    d = str(tmp_path_factory.mktemp("fidx_v3"))
    fielded.build_fielded_index(spark, documents, d, FIELDS, n_shards=4,
                                id_col="doc_id", doclens=True)
    seg = spark.read.parquet(f"{d}/segments")
    flen = {}  # (field, docid) -> per-field doclen
    for r in seg.filter(F.col("kind") == "fdocs").collect():
        ids, lens = decode_postings(bytes(r["postings"]))
        for i, ln in zip(ids.tolist(), lens.tolist()):
            flen[(r["term"], i)] = ln
    posts = seg.filter(F.col("kind") == "post").limit(500).collect()
    assert posts
    checked_fields = set()
    for r in posts:
        fld = r["term"].split(spimi.FIELD_SEP, 1)[0]
        checked_fields.add(fld)
        ids, _ = decode_postings(bytes(r["postings"]))
        dls = _varbyte_decode(bytes(r["doclens"]))
        assert [flen[(fld, i)] for i in ids.tolist()] == \
            [int(x) for x in dls], r["term"]
    assert checked_fields == set(FIELDS)

    # scoring semantics are unchanged by the extra stream
    got = _rows(fielded.fielded_topk(spark, d, QUERIES, boosts=BOOSTS, k=10))
    want = _rows(fielded.bm25f_topk(spark, documents, "doc_id", FIELDS,
                                    QUERIES, boosts=BOOSTS, k=10))
    assert got == want and got
