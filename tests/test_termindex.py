"""Term-partitioned secondary layout (index/termindex.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gazetteer_spark.analyzer import postings_sql
from gazetteer_spark.index import codec, spimi, termindex


@pytest.fixture(scope="module")
def primary(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_primary"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), d,
                      n_shards=8, id_col="doc_id", content_col="text")
    extra = documents.filter(F.col("doc_id") >= 300)
    spimi.add_documents(spark, extra, d, id_col="doc_id", content_col="text")
    return d


@pytest.fixture(scope="module")
def layout(spark, primary, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("layout"))
    termindex.build_term_layout(spark, primary, d, n_buckets=8)
    return d


def _layout_state(spark, d):
    """A layout's merged rows (every stream) and its layout.json.
    ``source_index`` comes back resolved (_load_meta): it is stored
    relative to each layout dir, so two dirs over one index store
    different strings for the same source."""
    rows = sorted(
        (r["term"], r["df"], r["cf"], bytes(r["postings"]),
         bytes(r["blockmeta"]), bytes(r["doclens"]), bytes(r["positions"]))
        for r in spark.read.parquet(f"{d}/terms").collect()
    )
    return rows, termindex._load_meta(d)


def _assert_refresh_is_rebuild(spark, refreshed, rebuilt):
    got = _layout_state(spark, refreshed)
    assert got == _layout_state(spark, rebuilt) and got[0]


def test_term_postings_match_scan(spark, documents, layout):
    terms = ["customer", "filter", "group", "spark"]
    got = {(r["term"], r["docid"]): r["tf"] for r in
           termindex.term_postings(spark, layout, terms).collect()}
    want = {(r["term"], r["docid"]): r["tf"] for r in
            postings_sql(documents, "doc_id", "text")
            .filter(F.col("term").isin(terms)).collect()}
    assert got == want


def test_boolean_and_matches_scan(spark, documents, layout):
    got = {r["docid"] for r in
           termindex.boolean_and(spark, layout, "customer filter group").collect()}
    p = postings_sql(documents, "doc_id", "text")
    want = {r["docid"] for r in
            p.filter(F.col("term").isin(["customer", "filter", "group"]))
            .groupBy("docid").agg(F.countDistinct("term").alias("n"))
            .filter(F.col("n") == 3).select("docid").collect()}
    assert got == want and got


def test_bucket_pruning(spark, layout):
    df = termindex.term_postings(spark, layout, ["customer"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition pruning on bucket + parquet min/max pushdown on term
    part_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in part_filters
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "term" in pushed


def test_layout_dels_only_buckets(spark, tmp_path_factory):
    """With many buckets and a tiny vocabulary, most buckets receive ONLY
    replicated dels rows — the merge must emit a typed empty frame."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "beta gamma")],
        "doc_id long, text string",
    )
    idx = str(tmp_path_factory.mktemp("idx_tiny"))
    spimi.build_index(spark, docs, idx, n_shards=2,
                      id_col="doc_id", content_col="text")
    spimi.delete_documents(spark, [2], idx)
    d = str(tmp_path_factory.mktemp("layout_tiny"))
    termindex.build_term_layout(spark, idx, d, n_buckets=32)
    got = {(r["term"], r["docid"]) for r in
           termindex.term_postings(spark, d, ["alpha", "beta", "gamma"]).collect()}
    assert got == {("alpha", 1), ("beta", 1), ("beta", 3), ("gamma", 3)}


def test_layout_applies_tombstones(spark, documents, primary, tmp_path_factory):
    victims = [r["docid"] for r in
               postings_sql(documents, "doc_id", "text")
               .filter(F.col("term") == "customer")
               .select("docid").limit(2).collect()]
    spimi.delete_documents(spark, victims, primary)
    d = str(tmp_path_factory.mktemp("layout_dels"))
    termindex.build_term_layout(spark, primary, d, n_buckets=8)
    got = {r["docid"] for r in
           termindex.term_postings(spark, d, ["customer"]).collect()}
    assert not (got & set(victims))
    # df/cf reflect the surviving corpus
    row = (spark.read.parquet(f"{d}/terms")
           .filter(F.col("term") == "customer").collect())
    assert len(row) == 1 and row[0]["df"] == len(got)


def test_bm25_via_layout_matches_wand_and_prunes(spark, documents,
                                                 tmp_path_factory):
    """BM25 top-k served from the term layout must be rank- and
    score-identical to the doc-sharded WAND path on the same corpus, while
    its scan partition-prunes on bucket and pushes the term filter down
    (the O(query terms) point-query shape)."""
    from gazetteer_spark.index import wand

    idx = str(tmp_path_factory.mktemp("idx_bm25tl"))
    spimi.build_index(spark, documents, idx, n_shards=8,
                      id_col="doc_id", content_col="text")
    lay = str(tmp_path_factory.mktemp("layout_bm25tl"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=16)
    queries = [(0, "spark join merge"), (1, "the"), (2, "customer filter")]
    got = termindex.bm25_topk(spark, lay, queries, k=10)
    want = wand.topk(spark, idx, queries, k=10)
    rows = lambda df: [  # noqa: E731
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in df.orderBy("query_id", "rank").collect()
    ]
    assert rows(got) == rows(want) and got.count() > 0

    plan = (termindex.bm25_topk(spark, lay, queries, k=10)
            ._jdf.queryExecution().executedPlan().toString())
    part_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in part_filters
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "term" in pushed


def test_bm25_via_layout_staleness_detected(spark, documents,
                                            tmp_path_factory):
    """Serving from a layout after the source index committed NEW posting
    generations silently misses those postings — bm25_topk must refuse
    (allow_stale=True opts into the snapshot)."""
    idx = str(tmp_path_factory.mktemp("idx_stale"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), idx,
                      n_shards=4, id_col="doc_id", content_col="text")
    lay = str(tmp_path_factory.mktemp("layout_stale"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=8)
    q = [(0, "spark join")]
    assert termindex.bm25_topk(spark, lay, q, k=5).count() > 0
    spimi.add_documents(spark, documents.filter(F.col("doc_id") >= 300), idx,
                        id_col="doc_id", content_col="text")
    with pytest.raises(ValueError, match="STALE"):
        termindex.bm25_topk(spark, lay, q, k=5)
    # the snapshot is still explicitly servable
    assert termindex.bm25_topk(spark, lay, q, k=5,
                               allow_stale=True).count() > 0


def test_layout_doclens_match_corpus(spark, documents, tmp_path_factory):
    """The term-side doclen stream must equal the corpus doc lengths for
    every posting (shard-local resolution, latest generation wins)."""
    from gazetteer_spark.index.codec import _varbyte_decode, decode_postings

    idx = str(tmp_path_factory.mktemp("idx_dl"))
    spimi.build_index(spark, documents, idx, n_shards=4,
                      id_col="doc_id", content_col="text")
    lay = str(tmp_path_factory.mktemp("layout_dl"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=8)
    want = {r["docid"]: r["doclen"] for r in
            postings_sql(documents, "doc_id", "text")
            .groupBy("docid").agg(F.sum("tf").alias("doclen")).collect()}
    rows = (spark.read.parquet(f"{lay}/terms")
            .filter(F.col("term").isin(["customer", "the", "spark"]))
            .select("term", "postings", "doclens").collect())
    assert rows
    for r in rows:
        ids, _ = decode_postings(bytes(r["postings"]))
        dls = _varbyte_decode(bytes(r["doclens"]))
        assert [want[i] for i in ids.tolist()] == [int(x) for x in dls]


def test_bm25_layout_candidate_gate_exact_and_engaged(spark, tmp_path_factory,
                                                      monkeypatch):
    """The MaxScore candidate gate (expensive terms emit postings only for
    cheap-term candidate docs) must be hash-identical to the ungated path
    AND actually engage: the stopword's (qid, term) pair is restricted to
    a candidate set of exactly the cheap term's df docids. Queries where
    the gate cannot apply (stopword-only, all-expensive) fall back and
    stay correct in the same batch."""
    rows = []
    for i in range(300):
        extra = " needle shard" if i % 7 == 0 else ""
        rows.append((i, f"the quick the lazy the dog w{i % 11}" + extra))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path_factory.mktemp("idx_gate"))
    spimi.build_index(spark, docs, idx, n_shards=4,
                      id_col="doc_id", content_col="text")
    lay = str(tmp_path_factory.mktemp("layout_gate"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=8)

    queries = [(0, "needle the"), (1, "the"), (2, "the quick")]
    want = [  # ungated reference (default threshold = 1M floor)
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in termindex.bm25_topk(spark, lay, queries, k=10)
        .orderBy("query_id", "rank").collect()
    ]

    calls = []
    orig = termindex._scored_rows

    def spy(rows, sub, idf, avgdl, cand=None, restrict=None, **kw):
        calls.append((cand, restrict))
        return orig(rows, sub, idf, avgdl, cand, restrict, **kw)

    monkeypatch.setattr(termindex, "_scored_rows", spy)
    got = [
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in termindex.bm25_topk(spark, lay, queries, k=10,
                                     expensive_df=100)
        .orderBy("query_id", "rank").collect()
    ]
    assert got == want and got

    cand, restrict = calls[-1]  # the final scoring job
    assert (0, "the") in restrict          # stopword gated for query 0
    assert all(q != 1 for q, _ in restrict)  # stopword-only q1: fallback
    assert all(q != 2 for q, _ in restrict)  # all-expensive q2: fallback
    n_needle = sum(1 for i in range(300) if i % 7 == 0)
    assert len(cand[0]) == n_needle        # candidates = needle's docs


def test_term_layout_reader_warm_matches_cold(spark, documents,
                                              tmp_path_factory):
    """TermLayoutReader (terms table pinned, df memoized) must be result-
    identical to the cold bm25_topk path across repeated and partially-
    absent-term queries."""
    idx = str(tmp_path_factory.mktemp("idx_tlr"))
    spimi.build_index(spark, documents, idx, n_shards=4,
                      id_col="doc_id", content_col="text")
    lay = str(tmp_path_factory.mktemp("layout_tlr"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=8)
    reader = termindex.TermLayoutReader(spark, lay)
    try:
        batches = [
            [(0, "spark join merge"), (1, "the")],
            [(0, "spark join merge"), (2, "customer zz_absent filter")],
        ]
        for queries in batches:
            rows = lambda df: [  # noqa: E731
                (r["query_id"], r["rank"], r["docid"], r["score"])
                for r in df.orderBy("query_id", "rank").collect()
            ]
            got = rows(reader.topk(queries, k=10))
            want = rows(termindex.bm25_topk(spark, lay, queries, k=10))
            assert got == want and got
    finally:
        reader.close()


def test_reader_serves_its_snapshot_across_refresh(spark, documents,
                                                  tmp_path_factory):
    """A TermLayoutReader checks staleness once, at open, and serves the
    layout directory it opened: after the source index grows and
    refresh_term_layout writes a NEW directory, the open reader's answers
    are row-identical to its answers before the refresh, while the cold
    path refuses the now-stale directory and a reader on the refreshed
    directory sees the new documents."""
    from gazetteer_spark import query as Q

    idx = str(tmp_path_factory.mktemp("idx_snap"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), idx,
                      n_shards=4, id_col="doc_id", content_col="text",
                      positions=True, doclens=True)
    lay0 = str(tmp_path_factory.mktemp("lay_snap0"))
    termindex.build_term_layout(spark, idx, lay0, n_buckets=8,
                                positions=True)
    queries = [(0, "customer filter"), (1, "customer OR filter"),
               (2, '"key order" OR window')]
    rows = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in df.collect())
    reader = termindex.TermLayoutReader(spark, lay0)
    try:
        before = (rows(reader.search(queries, k=10)),
                  rows(reader.topk(queries[:2], k=10)))
        spimi.add_documents(spark, documents.filter(F.col("doc_id") >= 300),
                            idx, id_col="doc_id", content_col="text")
        lay1 = str(tmp_path_factory.mktemp("lay_snap1"))
        termindex.refresh_term_layout(spark, idx, lay0, lay1)
        after = (rows(reader.search(queries, k=10)),
                 rows(reader.topk(queries[:2], k=10)))
    finally:
        reader.close()
    assert after == before and all(before)
    with pytest.raises(ValueError, match="STALE"):
        Q.search_batch(spark, lay0, queries, k=10)
    fresh = termindex.TermLayoutReader(spark, lay1)
    try:
        assert rows(fresh.search(queries, k=10)) != before[0]
    finally:
        fresh.close()


def test_bm25_gate_random_trials(spark, tmp_path_factory):
    """Seeded-random corpora + thresholds: the gated scorer equals the
    ungated one on every trial (rare/medium/stopword term mix, random
    query compositions, random expensive_df cutoffs)."""
    import random

    rng = random.Random(1105)
    vocab_rare = [f"r{i}" for i in range(6)]
    vocab_mid = [f"m{i}" for i in range(4)]
    for trial in range(3):
        rows = []
        for i in range(240):
            words = ["stop"] * rng.randint(1, 4)
            if rng.random() < 0.5:
                words += [rng.choice(vocab_mid)] * rng.randint(1, 2)
            if rng.random() < 0.15:
                words.append(rng.choice(vocab_rare))
            rng.shuffle(words)
            rows.append((i, " ".join(words)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        idx = str(tmp_path_factory.mktemp(f"idx_rgate{trial}"))
        spimi.build_index(spark, docs, idx, n_shards=2,
                          id_col="doc_id", content_col="text")
        lay = str(tmp_path_factory.mktemp(f"lay_rgate{trial}"))
        termindex.build_term_layout(spark, idx, lay, n_buckets=4)
        queries = [
            (0, f"{rng.choice(vocab_rare)} stop"),
            (1, f"{rng.choice(vocab_rare)} {rng.choice(vocab_mid)} stop"),
            (2, "stop"),
            (3, f"{rng.choice(vocab_mid)} stop"),
        ]
        k = rng.choice([3, 10])
        cut = rng.choice([20, 60, 150])
        rows_of = lambda df: [  # noqa: E731
            (r["query_id"], r["rank"], r["docid"], r["score"])
            for r in df.orderBy("query_id", "rank").collect()
        ]
        got = rows_of(termindex.bm25_topk(spark, lay, queries, k=k,
                                          expensive_df=cut))
        want = rows_of(termindex.bm25_topk(spark, lay, queries, k=k))
        assert got == want and got, (trial, k, cut)


def test_bm25_and_layout_matches_wand_and_gates(spark, documents,
                                                tmp_path_factory,
                                                monkeypatch):
    """Conjunctive ranked retrieval from the layout equals wand.topk_and
    rank-for-rank; the rarest-term gate restricts every non-rarest term,
    and an over-cap query runs ungated yet stays exact."""
    from gazetteer_spark.index import wand

    idx = str(tmp_path_factory.mktemp("idx_and_tl"))
    spimi.build_index(spark, documents, idx, n_shards=4,
                      id_col="doc_id", content_col="text")
    lay = str(tmp_path_factory.mktemp("lay_and_tl"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=8)
    queries = [
        (0, "customer filter group"),
        (1, "the window"),
        (5, "hash aggregate zz_absent"),  # absent term → strict AND empties
    ]
    rows_of = lambda df: [  # noqa: E731
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in df.orderBy("query_id", "rank").collect()
    ]
    calls = []
    orig = termindex._scored_rows

    def spy(rows, sub, idf, avgdl, cand=None, restrict=None, **kw):
        calls.append((cand, restrict))
        return orig(rows, sub, idf, avgdl, cand, restrict, **kw)

    monkeypatch.setattr(termindex, "_scored_rows", spy)
    got = rows_of(termindex.bm25_and_topk(spark, lay, queries, k=10))
    want = rows_of(wand.topk_and(spark, idx, queries, k=10))
    assert got == want and got
    assert not any(q == 5 for q, *_ in got)  # absent-term query empty
    cand, restrict = calls[-1]
    # every query with ≥2 present terms is gated on its rarest term:
    # exactly (n_terms − 1) restricted pairs per gated query
    assert sum(1 for q, _ in restrict if q == 0) == 2
    assert sum(1 for q, _ in restrict if q == 1) == 1

    # over-cap fallback: gate_cap=0 disables gating, results unchanged
    ungated = rows_of(termindex.bm25_and_topk(spark, lay, queries, k=10,
                                              gate_cap=0))
    assert ungated == want


def test_bm25_layout_excludes_tombstoned(spark, documents, tmp_path_factory):
    """A layout rebuilt after deletions must never rank tombstoned docs,
    and its snapshot stats (df from surviving postings) stay
    self-consistent."""
    idx = str(tmp_path_factory.mktemp("idx_bm25_del"))
    spimi.build_index(spark, documents, idx, n_shards=4,
                      id_col="doc_id", content_col="text")
    lay0 = str(tmp_path_factory.mktemp("lay_bm25_del0"))
    termindex.build_term_layout(spark, idx, lay0, n_buckets=8)
    before = termindex.bm25_topk(spark, lay0, [(0, "customer filter")],
                                 k=10).collect()
    victims = [r["docid"] for r in before[:3]]
    spimi.delete_documents(spark, victims, idx)
    lay1 = str(tmp_path_factory.mktemp("lay_bm25_del1"))
    termindex.build_term_layout(spark, idx, lay1, n_buckets=8)
    after = {r["docid"] for r in
             termindex.bm25_topk(spark, lay1, [(0, "customer filter")],
                                 k=10).collect()}
    assert after and not (after & set(victims))


def test_layout_refresh_matches_full_rebuild(spark, documents,
                                             tmp_path_factory):
    """refresh_term_layout after delta generations — an adds-only delta,
    then adds + deletes — must be BYTE-identical, layout.json included,
    to a from-scratch rebuild at the new snapshot; dels-only generations
    stale the layout (they have no read-time mask here, unlike the fuzzy
    fan-in)."""
    idx = str(tmp_path_factory.mktemp("idx_refresh"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), idx,
                      n_shards=4, id_col="doc_id", content_col="text")
    lay0 = str(tmp_path_factory.mktemp("lay_refresh0"))
    termindex.build_term_layout(spark, idx, lay0, n_buckets=8)

    # adds-only delta
    spimi.add_documents(spark, documents.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), idx,
        id_col="doc_id", content_col="text")
    lay1 = str(tmp_path_factory.mktemp("lay_refresh1"))
    termindex.refresh_term_layout(spark, idx, lay0, lay1)
    reb1 = str(tmp_path_factory.mktemp("lay_rebuild1"))
    termindex.build_term_layout(spark, idx, reb1, n_buckets=8)
    _assert_refresh_is_rebuild(spark, lay1, reb1)

    # delta: one add generation + one dels-only generation
    spimi.add_documents(spark, documents.filter(F.col("doc_id") >= 400), idx,
                        id_col="doc_id", content_col="text")
    victims = [r["docid"] for r in
               termindex.term_postings(spark, lay1, ["customer"],
                                       allow_stale=True)
               .select("docid").limit(3).collect()]
    spimi.delete_documents(spark, victims, idx)

    # the dels-only generation STALES the layout for every reader
    with pytest.raises(ValueError, match="STALE"):
        termindex.term_postings(spark, lay1, ["customer"]).collect()
    with pytest.raises(ValueError, match="STALE"):
        termindex.boolean_and(spark, lay1, "customer filter")

    lay2 = str(tmp_path_factory.mktemp("lay_refresh2"))
    termindex.refresh_term_layout(spark, idx, lay1, lay2)
    reb2 = str(tmp_path_factory.mktemp("lay_rebuild2"))
    termindex.build_term_layout(spark, idx, reb2, n_buckets=8)
    _assert_refresh_is_rebuild(spark, lay2, reb2)
    # refreshed snapshot serves: victims gone, added docs present
    got = {r["docid"] for r in
           termindex.term_postings(spark, lay2, ["customer"]).collect()}
    assert got and not (got & set(victims))
    assert any(d >= 400 for d in
               {r["docid"] for r in
                termindex.term_postings(spark, lay2, ["the"]).collect()})
    # refreshing a current layout is a loud no-op
    with pytest.raises(ValueError, match="already current"):
        termindex.refresh_term_layout(spark, idx, lay2, reb2 + "_x")


def test_partial_layout_invisible(spark, documents, tmp_path_factory):
    """A layout build killed before the layout.json commit leaves data
    that is INVISIBLE to every reader (clear error, not silent partial
    results) — the json write is the commit point."""
    import os as _os
    import shutil as _sh

    idx = str(tmp_path_factory.mktemp("idx_partial"))
    spimi.build_index(spark, documents.limit(100), idx, n_shards=2,
                      id_col="doc_id", content_col="text")
    lay = str(tmp_path_factory.mktemp("lay_partial"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=4)
    _os.remove(f"{lay}/layout.json")  # simulate death before commit
    assert _os.path.isdir(f"{lay}/terms")  # data present but uncommitted
    for fn in (
        lambda: termindex.term_postings(spark, lay, ["the"]).collect(),
        lambda: termindex.bm25_topk(spark, lay, [(0, "the")]).collect(),
        lambda: termindex.TermLayoutReader(spark, lay),
    ):
        with pytest.raises(ValueError, match="commit point"):
            fn()
    # rebuild over the dir recovers
    _sh.rmtree(lay)
    termindex.build_term_layout(spark, idx, lay, n_buckets=4)
    assert termindex.term_postings(spark, lay, ["the"]).count() > 0


def test_layout_v3_source_skips_resolve_and_is_identical(
    spark, documents, tmp_path_factory, monkeypatch
):
    """A layout-v3 source (build_index(..., doclens=True)) carries the
    per-posting doclen stream next to the posting bytes, so the term-layout
    build runs NO shard-group resolve stage (one shuffle total) and the
    merged layout is byte-identical to one built from a v2 source."""
    from gazetteer_spark.index import wand

    idx2 = str(tmp_path_factory.mktemp("idx_v2src"))
    spimi.build_index(spark, documents, idx2, n_shards=4,
                      id_col="doc_id", content_col="text")
    idx3 = str(tmp_path_factory.mktemp("idx_v3src"))
    spimi.build_index(spark, documents, idx3, n_shards=4,
                      id_col="doc_id", content_col="text", doclens=True)
    lay2 = str(tmp_path_factory.mktemp("lay_v2src"))
    termindex.build_term_layout(spark, idx2, lay2, n_buckets=8)

    def boom(pdf):
        raise AssertionError("resolve stage ran on a v3 source")

    monkeypatch.setattr(termindex, "_resolve_doclens_shard", boom)
    lay3 = str(tmp_path_factory.mktemp("lay_v3src"))
    termindex.build_term_layout(spark, idx3, lay3, n_buckets=8)

    rows2 = _layout_state(spark, lay2)[0]
    assert rows2 == _layout_state(spark, lay3)[0] and rows2

    queries = [(0, "spark join merge"), (1, "the"), (2, "customer filter")]
    rows_of = lambda df: [  # noqa: E731
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in df.orderBy("query_id", "rank").collect()
    ]
    got = rows_of(termindex.bm25_topk(spark, lay3, queries, k=10))
    assert got == rows_of(wand.topk(spark, idx3, queries, k=10)) and got


def test_layout_v3_refresh_and_compact(spark, documents, tmp_path_factory,
                                       monkeypatch):
    """Refreshing a layout over a v3 source (adds + dels delta) also skips
    the resolve stage and stays byte-identical to a from-scratch rebuild;
    compaction of a v3 index preserves doclens=True so rebuilt layouts
    keep the one-shuffle path."""
    import json as _json

    idx = str(tmp_path_factory.mktemp("idx_v3ref"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), idx,
                      n_shards=4, id_col="doc_id", content_col="text",
                      doclens=True)

    def boom(pdf):
        raise AssertionError("resolve stage ran on a v3 source")

    monkeypatch.setattr(termindex, "_resolve_doclens_shard", boom)
    lay0 = str(tmp_path_factory.mktemp("lay_v3ref0"))
    termindex.build_term_layout(spark, idx, lay0, n_buckets=8)

    spimi.add_documents(spark, documents.filter(F.col("doc_id") >= 300), idx,
                        id_col="doc_id", content_col="text")
    victims = [r["docid"] for r in
               termindex.term_postings(spark, lay0, ["customer"],
                                       allow_stale=True)
               .select("docid").limit(3).collect()]
    spimi.delete_documents(spark, victims, idx)

    lay1 = str(tmp_path_factory.mktemp("lay_v3ref1"))
    termindex.refresh_term_layout(spark, idx, lay0, lay1)
    lay2 = str(tmp_path_factory.mktemp("lay_v3ref2"))
    termindex.build_term_layout(spark, idx, lay2, n_buckets=8)

    _assert_refresh_is_rebuild(spark, lay1, lay2)
    got = {r["docid"] for r in
           termindex.term_postings(spark, lay1, ["customer"]).collect()}
    assert got and not (got & set(victims))

    idxc = str(tmp_path_factory.mktemp("idx_v3ref_c"))
    spimi.compact_index(spark, idx, idxc)
    assert _json.load(open(f"{idxc}/build.json"))["doclens"] is True
    layc = str(tmp_path_factory.mktemp("lay_v3ref_c"))
    termindex.build_term_layout(spark, idxc, layc, n_buckets=8)  # boom armed
    gotc = {r["docid"] for r in
            termindex.term_postings(spark, layc, ["customer"]).collect()}
    assert gotc == got


# ---------------------------------------------------------------------------
# fielded (BM25F) term layout
# ---------------------------------------------------------------------------

FL_FIELDS = {"body": "text", "src": "source", "lang": "lang"}
FL_BOOSTS = {"body": 1.0, "src": 2.0, "lang": 0.5}
FL_QUERIES = [
    (0, "spark join src13"),
    (1, "window src8"),
    (2, "customer filter en"),
    (3, "the"),
]


def _rows_of(df):
    return [(r["query_id"], r["rank"], r["docid"], r["score"])
            for r in df.orderBy("query_id", "rank").collect()]


@pytest.fixture(scope="module")
def fielded_v3(spark, documents, tmp_path_factory):
    from gazetteer_spark import fielded

    d = str(tmp_path_factory.mktemp("fidx_v3tl"))
    fielded.build_fielded_index(spark, documents, d, FL_FIELDS, n_shards=4,
                                id_col="doc_id", doclens=True)
    lay = str(tmp_path_factory.mktemp("flay_v3tl"))
    termindex.build_term_layout(spark, d, lay, n_buckets=16)
    return d, lay


def test_fielded_layout_bm25f_matches_and_prunes(spark, documents,
                                                 fielded_v3):
    """BM25F served from the fielded term layout must be rank- and
    score-identical to the doc-sharded fielded index AND the exact
    corpus-scan scorer, while partition-pruning on bucket and pushing the
    composite-term filter into the parquet scan."""
    from gazetteer_spark import fielded

    fidx, flay = fielded_v3
    got = _rows_of(termindex.bm25f_topk(spark, flay, FL_QUERIES,
                                        boosts=FL_BOOSTS, k=10))
    assert got == _rows_of(fielded.fielded_topk(spark, fidx, FL_QUERIES,
                                                boosts=FL_BOOSTS, k=10))
    assert got == _rows_of(fielded.bm25f_topk(spark, documents, "doc_id",
                                              FL_FIELDS, FL_QUERIES,
                                              boosts=FL_BOOSTS, k=10))
    assert got

    plan = (termindex.bm25f_topk(spark, flay, FL_QUERIES, boosts=FL_BOOSTS,
                                 k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "bucket" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "term" in plan.split("PushedFilters: [")[1].split("]")[0]


def test_fielded_layout_base_term_colocation(spark, fielded_v3):
    """Every composite of a base term lands in ONE bucket (base-term
    bucketing) — the locality the in-bucket cross-field tfw sum and the
    local doc-level df computation both rely on."""
    _, flay = fielded_v3
    rows = (spark.read.parquet(f"{flay}/terms")
            .select("term", "bucket").collect())
    seen: dict[str, set] = {}
    n_multi_field = 0
    for r in rows:
        base = r["term"].split(spimi.FIELD_SEP)[-1]
        seen.setdefault(base, set()).add(r["bucket"])
    assert seen and all(len(b) == 1 for b in seen.values())


def test_fielded_layout_cross_field_tfw(spark, tmp_path_factory):
    """Terms appearing in SEVERAL fields of the same doc: the in-bucket
    scorer must sum boost-weighted, per-field-normalized tf across fields
    BEFORE the K1 saturation — parity with the exact corpus-scan scorer on
    a corpus built to exercise exactly that (the sf corpus has no
    cross-field terms)."""
    from gazetteer_spark import fielded

    rows = [(i,
             f"alpha beta w{i % 7} " + ("alpha gamma" if i % 3 == 0 else ""),
             f"alpha tag{i % 4}" if i % 2 == 0 else f"beta tag{i % 4}")
            for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    fls = {"body": "text", "tags": "tag"}
    boosts = {"body": 1.0, "tags": 3.0}
    fidx = str(tmp_path_factory.mktemp("fidx_xf"))
    fielded.build_fielded_index(spark, docs, fidx, fls, n_shards=2,
                                id_col="doc_id", doclens=True)
    lay = str(tmp_path_factory.mktemp("flay_xf"))
    termindex.build_term_layout(spark, fidx, lay, n_buckets=4)
    queries = [(0, "alpha"), (1, "alpha beta"), (2, "gamma tag1")]
    got = _rows_of(termindex.bm25f_topk(spark, lay, queries, boosts=boosts,
                                        k=10))
    assert got == _rows_of(fielded.bm25f_topk(
        spark, docs, "doc_id", fls, queries, boosts=boosts, k=10)) and got
    # the layout really holds 'alpha' under both fields, one bucket
    comps = {r["term"] for r in
             spark.read.parquet(f"{lay}/terms").select("term").collect()}
    assert {"body" + spimi.FIELD_SEP + "alpha",
            "tags" + spimi.FIELD_SEP + "alpha"} <= comps


def test_fielded_layout_reader_warm_matches_cold(spark, fielded_v3):
    """FieldedLayoutReader (composite table pinned, df memoized) must be
    result-identical to the cold bm25f_topk path across repeated and
    partially-absent-term queries, including a gate-engaging stopword
    query."""
    _, flay = fielded_v3
    reader = termindex.FieldedLayoutReader(spark, flay)
    try:
        batches = [
            FL_QUERIES,
            [(0, "spark join src13"), (5, "customer zz_absent filter")],
        ]
        for queries in batches:
            got = _rows_of(reader.topk(queries, boosts=FL_BOOSTS, k=10))
            want = _rows_of(termindex.bm25f_topk(spark, flay, queries,
                                                 boosts=FL_BOOSTS, k=10))
            assert got == want and got
    finally:
        reader.close()


def test_fielded_layout_reader_caches_nothing(spark, fielded_v3):
    """An open FieldedLayoutReader pins no Spark data."""
    _, flay = fielded_v3
    spark.catalog.clearCache()  # shared session: start empty
    reader = termindex.FieldedLayoutReader(spark, flay)
    try:
        assert _rows_of(reader.topk(FL_QUERIES, boosts=FL_BOOSTS, k=10))
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        reader.close()


def test_fielded_layout_guards(spark, documents, fielded_v3, layout,
                               tmp_path_factory):
    """A fielded layout refuses bm25_topk / TermLayoutReader (composite
    rows need the BM25F scorer); a fielded layout built from a NON-doclens
    (v2) source refuses bm25f_topk with a clear rebuild hint but still
    serves composite term scans."""
    from gazetteer_spark import fielded

    _, flay = fielded_v3
    with pytest.raises(ValueError, match="bm25f_topk"):
        termindex.bm25_topk(spark, flay, [(0, "the")])
    with pytest.raises(ValueError, match="bm25f_topk"):
        termindex.TermLayoutReader(spark, flay)
    with pytest.raises(ValueError, match="TermLayoutReader"):
        termindex.FieldedLayoutReader(spark, layout)

    d2 = str(tmp_path_factory.mktemp("fidx_v2tl"))
    fielded.build_fielded_index(spark, documents.filter(F.col("doc_id") < 200),
                                d2, FL_FIELDS, n_shards=2, id_col="doc_id")
    lay2 = str(tmp_path_factory.mktemp("flay_v2tl"))
    termindex.build_term_layout(spark, d2, lay2, n_buckets=8)
    with pytest.raises(ValueError, match="doclens=True"):
        termindex.bm25f_topk(spark, lay2, FL_QUERIES, boosts=FL_BOOSTS)
    comp = "body" + spimi.FIELD_SEP + "the"
    assert termindex.term_postings(spark, lay2, [comp]).count() > 0


def test_fielded_layout_refresh_matches_rebuild(spark, documents,
                                                tmp_path_factory):
    """refresh_term_layout over a FIELDED v3 source (adds + dels delta)
    stays byte-identical to a from-scratch rebuild, and the refreshed
    snapshot never ranks tombstoned docs."""
    from gazetteer_spark import fielded

    fidx = str(tmp_path_factory.mktemp("fidx_ref3"))
    fielded.build_fielded_index(
        spark, documents.filter(F.col("doc_id") < 300), fidx, FL_FIELDS,
        n_shards=4, id_col="doc_id", doclens=True)
    lay0 = str(tmp_path_factory.mktemp("flay_ref0"))
    termindex.build_term_layout(spark, fidx, lay0, n_buckets=16)

    fielded.add_fielded_documents(
        spark, documents.filter(F.col("doc_id") >= 300), fidx, FL_FIELDS,
        id_col="doc_id")
    before = termindex.bm25f_topk(spark, lay0, [(0, "customer filter")],
                                  boosts=FL_BOOSTS, k=5,
                                  allow_stale=True).collect()
    victims = [r["docid"] for r in before[:2]]
    spimi.delete_documents(spark, victims, fidx)

    lay1 = str(tmp_path_factory.mktemp("flay_ref1"))
    termindex.refresh_term_layout(spark, fidx, lay0, lay1)
    lay2 = str(tmp_path_factory.mktemp("flay_ref2"))
    termindex.build_term_layout(spark, fidx, lay2, n_buckets=16)

    _assert_refresh_is_rebuild(spark, lay1, lay2)
    after = {r["docid"] for r in
             termindex.bm25f_topk(spark, lay1, [(0, "customer filter")],
                                  boosts=FL_BOOSTS, k=10).collect()}
    assert after and not (after & set(victims))


def test_fielded_layout_gate_exact_and_engaged(spark, tmp_path_factory,
                                               monkeypatch):
    """The fielded MaxScore candidate gate (expensive BASE terms emit only
    for cheap-candidate docs, idf bounded by idf(n_docs, max_f df_f)
    driver-side) must be result-identical to the ungated path AND the
    exact corpus-scan scorer, and actually ENGAGE — including when the
    cheap side is a FIELD term (candidates from the tags field gate a
    body-field stopword). Stopword-only / all-expensive queries fall back
    inside the same batch."""
    from gazetteer_spark import fielded

    rows = []
    for i in range(300):
        extra = " needle shard" if i % 7 == 0 else ""
        rows.append((i, f"the quick the lazy the dog w{i % 11}" + extra,
                     f"t{i % 5}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    fls = {"body": "text", "tags": "tag"}
    boosts = {"body": 1.0, "tags": 2.0}
    fidx = str(tmp_path_factory.mktemp("fidx_gate"))
    fielded.build_fielded_index(spark, docs, fidx, fls, n_shards=4,
                                id_col="doc_id", doclens=True)
    lay = str(tmp_path_factory.mktemp("flay_gate"))
    termindex.build_term_layout(spark, fidx, lay, n_buckets=8)

    queries = [(0, "needle the"), (1, "the"), (2, "the quick"),
               (3, "t1 the")]
    want = _rows_of(termindex.bm25f_topk(spark, lay, queries, boosts=boosts,
                                         k=10))
    assert want == _rows_of(fielded.bm25f_topk(
        spark, docs, "doc_id", fls, queries, boosts=boosts, k=10))

    calls = []
    orig = termindex._scored_fielded

    def spy(rows, sub, fields, boosts, avglen, n_docs, cand=None,
            restrict=None):
        calls.append((cand, restrict))
        return orig(rows, sub, fields, boosts, avglen, n_docs, cand,
                    restrict)

    monkeypatch.setattr(termindex, "_scored_fielded", spy)
    got = _rows_of(termindex.bm25f_topk(spark, lay, queries, boosts=boosts,
                                        k=10, expensive_df=100))
    assert got == want and got

    cand, restrict = calls[-1]  # the final scoring job
    assert (0, "the") in restrict          # stopword gated for query 0
    assert (3, "the") in restrict          # field-cheap query gated too
    assert all(q != 1 for q, _ in restrict)  # stopword-only q1: fallback
    assert all(q != 2 for q, _ in restrict)  # all-expensive q2: fallback
    n_needle = sum(1 for i in range(300) if i % 7 == 0)
    assert len(cand[0]) == n_needle        # candidates = needle's docs
    assert len(cand[3]) == 60              # candidates = t1's docs (tags)


def test_fielded_gate_random_trials(spark, tmp_path_factory):
    """Seeded-random 2-field corpora + thresholds: the gated fielded
    scorer equals the ungated one on every trial (cross-field terms,
    random boosts, random expensive_df cutoffs)."""
    import random

    from gazetteer_spark import fielded

    rng = random.Random(2206)
    vocab_rare = [f"r{i}" for i in range(5)]
    vocab_mid = [f"m{i}" for i in range(3)]
    for trial in range(2):
        rows = []
        for i in range(200):
            words = ["stop"] * rng.randint(1, 4)
            if rng.random() < 0.5:
                words += [rng.choice(vocab_mid)] * rng.randint(1, 2)
            if rng.random() < 0.15:
                words.append(rng.choice(vocab_rare))
            rng.shuffle(words)
            tag = rng.choice(["stop", "m0", f"g{i % 6}"])
            rows.append((i, " ".join(words), tag))
        docs = spark.createDataFrame(rows,
                                     "doc_id long, text string, tag string")
        fls = {"body": "text", "tags": "tag"}
        boosts = {"body": 1.0, "tags": round(rng.uniform(0.5, 3.0), 2)}
        fidx = str(tmp_path_factory.mktemp(f"fidx_rg{trial}"))
        fielded.build_fielded_index(spark, docs, fidx, fls, n_shards=2,
                                    id_col="doc_id", doclens=True)
        lay = str(tmp_path_factory.mktemp(f"flay_rg{trial}"))
        termindex.build_term_layout(spark, fidx, lay, n_buckets=4)
        queries = [
            (0, f"{rng.choice(vocab_rare)} stop"),
            (1, f"{rng.choice(vocab_rare)} {rng.choice(vocab_mid)} stop"),
            (2, "stop"),
            (3, f"g1 stop {rng.choice(vocab_mid)}"),
        ]
        k = rng.choice([3, 10])
        cut = rng.choice([20, 60, 150])
        got = _rows_of(termindex.bm25f_topk(spark, lay, queries,
                                            boosts=boosts, k=k,
                                            expensive_df=cut))
        want = _rows_of(termindex.bm25f_topk(spark, lay, queries,
                                             boosts=boosts, k=k))
        assert got == want and got, (trial, k, cut)


# ---------------------------------------------------------------------------
# POSITIONAL term layout: phrase / NEAR / ranked phrase from term buckets
# ---------------------------------------------------------------------------

from gazetteer_spark.index import phrase  # noqa: E402

PH_QUERIES = [(0, "key order"), (1, "the key"), (2, "key order by"),
              (3, "zz_absent key")]


@pytest.fixture(scope="module")
def positional_layout(spark, documents, tmp_path_factory):
    """(source idx, layout) — positional + doclens (v3) source."""
    idx = str(tmp_path_factory.mktemp("idx_postl"))
    spimi.build_index(spark, documents, idx, n_shards=4, id_col="doc_id",
                      content_col="text", positions=True, doclens=True)
    lay = str(tmp_path_factory.mktemp("lay_postl"))
    termindex.build_term_layout(spark, idx, lay, n_buckets=16,
                                positions=True)
    return idx, lay


def _match_rows(df, count_col):
    return {(r["query_id"], r["docid"], r[count_col])
            for r in df.collect()}


def test_layout_phrase_matches_docsharded(spark, positional_layout):
    """phrase_match from the term layout must be row-identical to the
    doc-sharded positional path (counts included), across present, partial
    and absent-term phrases."""
    idx, lay = positional_layout
    got = _match_rows(
        termindex.phrase_match(spark, lay, PH_QUERIES), "n_occurrences")
    want = _match_rows(
        phrase.phrase_match_batch(spark, idx, PH_QUERIES), "n_occurrences")
    assert got == want and got
    # absent-term phrase matches nothing
    assert all(q != 3 for q, _, _ in got)


def test_layout_phrase_gate_equals_fallback(spark, positional_layout):
    """The rarest-term candidate gate must not change results: forcing
    every query down the full-emission fallback (gate_cap=0) is
    row-identical to the gated default."""
    _, lay = positional_layout
    queries = [(0, "key order"), (1, "the key")]
    got = _match_rows(
        termindex.phrase_match(spark, lay, queries), "n_occurrences")
    want = _match_rows(
        termindex.phrase_match(spark, lay, queries, gate_cap=0),
        "n_occurrences")
    assert got == want and got


@pytest.mark.parametrize("ordered", [False, True])
def test_layout_near_n_matches_docsharded(spark, positional_layout, ordered):
    _, lay = positional_layout
    idx = positional_layout[0]
    queries = [(0, ["key", "order"]), (1, ["the", "key", "order"])]
    got = _match_rows(
        termindex.near_match_n(spark, lay, queries, k=3, ordered=ordered),
        "n_anchors")
    want = _match_rows(
        phrase.near_match_n_batch(spark, idx, queries, k=3, ordered=ordered),
        "n_anchors")
    assert got == want and got


def test_layout_phrase_topk_matches_docsharded(spark, positional_layout):
    """Ranked phrase from the layout: rank- and score-identical to the
    doc-sharded phrase_topk_batch."""
    idx, lay = positional_layout
    queries = [(0, "key order"), (1, "the key")]
    got = _rows_of(termindex.phrase_topk(spark, lay, queries, k=10))
    want = _rows_of(phrase.phrase_topk_batch(spark, idx, queries, k=10))
    assert got == want and got


def test_layout_phrase_prunes_buckets(spark, positional_layout):
    """The phrase serving scan partition-prunes on bucket and pushes the
    term filter into the parquet scan."""
    _, lay = positional_layout
    df = termindex.phrase_match(spark, lay, [(0, "key order")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "term" in plan.split("PushedFilters: [")[1].split("]")[0]


def test_layout_phrase_tombstones_and_v2_source(spark, documents,
                                                tmp_path_factory):
    """Positional layout from a NON-doclens (v2) positional source (the
    shard-group resolve stage carries positions through) + deletes applied
    at layout build: phrase results match the doc-sharded path after the
    delete, and the stale pre-delete layout refuses to serve."""
    idx = str(tmp_path_factory.mktemp("idx_posv2"))
    spimi.build_index(spark, documents, idx, n_shards=2, id_col="doc_id",
                      content_col="text", positions=True)
    lay0 = str(tmp_path_factory.mktemp("lay_posv2a"))
    termindex.build_term_layout(spark, idx, lay0, n_buckets=8,
                                positions=True)
    before = _match_rows(
        termindex.phrase_match(spark, lay0, [(0, "key order")]),
        "n_occurrences")
    assert before
    victims = sorted({d for _, d, _ in before})[:2]
    spimi.delete_documents(spark, victims, idx)
    with pytest.raises(ValueError, match="STALE"):
        termindex.phrase_match(spark, lay0, [(0, "key order")])
    lay1 = str(tmp_path_factory.mktemp("lay_posv2b"))
    termindex.build_term_layout(spark, idx, lay1, n_buckets=8,
                                positions=True)
    got = _match_rows(
        termindex.phrase_match(spark, lay1, [(0, "key order")]),
        "n_occurrences")
    want = _match_rows(
        phrase.phrase_match_batch(spark, idx, [(0, "key order")]),
        "n_occurrences")
    assert got == want
    assert not ({d for _, d, _ in got} & set(victims))
    assert got == before - {(q, d, n) for q, d, n in before
                            if d in set(victims)}


def test_positional_layout_guards(spark, documents, positional_layout,
                                  layout, tmp_path_factory):
    """positions=True refuses a non-positional source; a non-positional
    layout refuses phrase serving; ranked serving still works on the
    positional layout (positions are additive)."""
    idx = str(tmp_path_factory.mktemp("idx_nopos"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 100), idx,
                      n_shards=2, id_col="doc_id", content_col="text")
    with pytest.raises(ValueError, match="positions=True"):
        termindex.build_term_layout(
            spark, idx, str(tmp_path_factory.mktemp("lay_nopos")),
            n_buckets=4, positions=True)
    with pytest.raises(ValueError, match="positions=True"):
        termindex.phrase_match(spark, layout, [(0, "key order")])
    _, lay = positional_layout
    got = _rows_of(termindex.bm25_topk(spark, lay, [(0, "key order")], k=5))
    assert got


def test_layout_near_pairs_matches_docsharded(spark, positional_layout):
    """Pair-count NEAR from the layout must equal phrase.near_match (which
    counts occurrence PAIRS, not anchors)."""
    idx, lay = positional_layout
    got = _match_rows(
        termindex.near_match(spark, lay, [(0, "key", "order")], k=3),
        "n_pairs")
    want = {(0, r["docid"], r["n_pairs"]) for r in
            phrase.near_match(spark, idx, "key", "order", k=3).collect()}
    assert got == want and got
    with pytest.raises(ValueError, match="distinct"):
        termindex.near_match(spark, lay, [(0, "key", "KEY")], k=2)


def test_positional_layout_refresh_byte_identical(spark, documents,
                                                  tmp_path_factory):
    """refresh_term_layout on a POSITIONAL layout (adds + deletes delta)
    must be byte-identical — positions stream included — to a
    from-scratch rebuild, and phrase serving from the refreshed snapshot
    must match the doc-sharded path at the new state."""
    idx = str(tmp_path_factory.mktemp("idx_prefresh"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), idx,
                      n_shards=2, id_col="doc_id", content_col="text",
                      positions=True, doclens=True)
    lay0 = str(tmp_path_factory.mktemp("lay_prefresh0"))
    termindex.build_term_layout(spark, idx, lay0, n_buckets=8,
                                positions=True)
    spimi.add_documents(spark, documents.filter(F.col("doc_id") >= 300),
                        idx, id_col="doc_id", content_col="text")
    before = _match_rows(
        termindex.phrase_match(spark, lay0, [(0, "key order")],
                               allow_stale=True), "n_occurrences")
    victims = sorted({d for _, d, _ in before})[:2]
    spimi.delete_documents(spark, victims, idx)

    lay1 = str(tmp_path_factory.mktemp("lay_prefresh1"))
    termindex.refresh_term_layout(spark, idx, lay0, lay1)
    lay2 = str(tmp_path_factory.mktemp("lay_prefresh2"))
    termindex.build_term_layout(spark, idx, lay2, n_buckets=8,
                                positions=True)

    _assert_refresh_is_rebuild(spark, lay1, lay2)
    got = _match_rows(
        termindex.phrase_match(spark, lay1, [(0, "key order")]),
        "n_occurrences")
    want = _match_rows(
        phrase.phrase_match_batch(spark, idx, [(0, "key order")]),
        "n_occurrences")
    assert got == want and got
    assert not ({d for _, d, _ in got} & set(victims))


def test_v2_docs_replication_equals_resolve_stage(spark, documents,
                                                  tmp_path_factory,
                                                  monkeypatch):
    """A v2 (stream-less) source's layout must be BYTE-identical whether
    doclens are resolved by the shard-group resolve stage or by doc-table
    replication through the bucket shuffle (_docs_replication_ok gate) —
    across generations with adds and tombstones, positions included."""
    idx = str(tmp_path_factory.mktemp("idx_v2repl"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 300), idx,
                      n_shards=4, id_col="doc_id", content_col="text",
                      positions=True)
    spimi.add_documents(spark, documents.filter(F.col("doc_id") >= 300), idx,
                        id_col="doc_id", content_col="text")
    spimi.delete_documents(spark, [7, 99, 250], idx)

    def snap(d):
        return sorted(
            (r["term"], r["df"], r["cf"], bytes(r["postings"]),
             bytes(r["blockmeta"]), bytes(r["doclens"]),
             bytes(r["positions"]) if r["positions"] is not None else None)
            for r in spark.read.parquet(f"{d}/terms").collect()
        )

    lay_r = str(tmp_path_factory.mktemp("lay_repl"))
    monkeypatch.setattr(termindex, "_docs_replication_ok",
                        lambda *a, **k: True)
    termindex.build_term_layout(spark, idx, lay_r, n_buckets=8,
                                positions=True)
    lay_s = str(tmp_path_factory.mktemp("lay_resolve"))
    monkeypatch.setattr(termindex, "_docs_replication_ok",
                        lambda *a, **k: False)
    termindex.build_term_layout(spark, idx, lay_s, n_buckets=8,
                                positions=True)
    a, b = snap(lay_r), snap(lay_s)
    assert a == b and a


def test_term_meta_path_equals_arrow_job(spark, documents, layout):
    """The driver-side (term, df) bucket probe must return exactly what
    the Arrow metadata job over the pruned scan returns — including
    absent terms being omitted — and composite fielded terms must probe
    their base term's bucket."""
    meta = termindex._load_meta(layout)
    terms = ["spark", "join", "merge", "the", "window", "zzz_missing"]
    probe = termindex._term_meta_path(layout, meta, terms)
    rows = termindex._pruned_rows(spark, layout, meta, terms)
    job, _ = termindex._term_meta(rows)
    assert probe == job and probe
    assert "zzz_missing" not in probe


def test_term_meta_path_blobs_equals_arrow_job(spark, documents, layout,
                                               monkeypatch):
    """The driver-side (df + gate-blob) bucket probe must return exactly
    the Arrow metadata job's dicts — byte-equal blobs — and must refuse
    (return None → job fallback) when the footer metadata exceeds the
    read budget."""
    meta = termindex._load_meta(layout)
    terms = ["spark", "join", "the", "customer", "zzz_missing"]
    got = termindex._term_meta_path_blobs(layout, meta, terms,
                                          termindex.INLINE_GATE_DF)
    assert got is not None
    rows = termindex._pruned_rows(spark, layout, meta, terms)
    dfs, blobs = termindex._term_meta(rows, termindex.INLINE_GATE_DF)
    assert got[0] == dfs and dfs
    assert set(got[1]) == set(blobs)
    assert all(bytes(got[1][k]) == bytes(blobs[k]) for k in blobs)
    monkeypatch.setattr(termindex, "PROBE_BLOB_BUDGET", 0)
    assert termindex._term_meta_path_blobs(
        layout, meta, terms, termindex.INLINE_GATE_DF) is None


# ---- Spark-free merge tests: _merge_bucket against a per-term oracle ----

_LAYOUT_COLS = ["bucket", "term", "df", "cf", "postings", "blockmeta",
                "doclens", "positions"]


def _pos_runs(ids, tfs):
    """Deterministic strictly increasing positions per posting."""
    return [int(d) % 7 + 3 * np.arange(int(t)) for d, t in zip(ids, tfs)]


def _post(term, gen, ids, tfs=None, stream=True, positions=True, bucket=3):
    """One merge-input post row. ``stream`` attaches a per-posting doclen
    stream (doclen = docid % 50 + 10 + gen); False leaves it NULL, as a
    v2 or fielded source does."""
    ids = np.array(ids, np.int64)
    tfs = np.array(tfs if tfs is not None else [int(d) % 3 + 1 for d in ids],
                   np.int64)
    flat = np.concatenate(_pos_runs(ids, tfs))
    return {
        "bucket": bucket, "kind": "post", "term": term, "gen": gen,
        "postings": codec.encode_postings(ids, tfs)[0],
        "doclens": (codec._varbyte_encode((ids % 50 + 10 + gen)
                                          .astype(np.uint64))
                    if stream else None),
        "positions": (codec.encode_positions_grouped(
            flat, tfs, np.array([0]), np.array([len(ids)]))[0]
            if positions else None),
    }


def _table(kind, gen, ids, vals=None, bucket=3):
    """A replicated 'dels' or 'docs' row (docs: docid → doclen)."""
    ids = np.array(ids, np.int64)
    vals = np.ones(len(ids), np.int64) if vals is None else np.array(vals)
    return {"bucket": bucket, "kind": kind, "term": None, "gen": gen,
            "postings": codec.encode_postings(ids, vals)[0],
            "doclens": None, "positions": None}


def _frame(rows):
    return pd.DataFrame(rows).astype({"bucket": "int32", "gen": "int32"})


def _reference_merge(pdf, with_doclens, with_positions):
    """Test oracle: one term at a time, one row at a time, with the
    per-blob codec; survivors collected in a docid-keyed dict."""
    from gazetteer_spark.index.wand import _doc_meta

    dels = codec.DelIndex.from_pdf(pdf)
    docs = pdf[pdf["kind"] == "docs"]
    tab = _doc_meta(docs) if len(docs) else None
    rows = []
    for term, grp in pdf[pdf["kind"] == "post"].groupby("term", sort=True):
        merged = {}
        for r in grp.itertuples():
            ids, tfs = codec.decode_postings(r.postings)
            if not with_doclens:
                dls = np.ones(len(ids), np.int64)
            elif r.doclens:
                dls = codec._varbyte_decode(r.doclens).astype(np.int64)
            else:
                dls = tab[1][np.searchsorted(tab[0], ids)]
            runs = (np.split(codec.decode_positions(r.positions, tfs),
                             np.cumsum(tfs)[:-1])
                    if with_positions else [None] * len(ids))
            keep = (dels.keep_mask(r.gen, ids) if dels
                    else np.ones(len(ids), bool))
            for d, t, dl, p, k in zip(ids, tfs, dls, runs, keep):
                if k:
                    assert int(d) not in merged
                    merged[int(d)] = (int(t), int(dl), p)
        if not merged:
            continue
        ids = np.array(sorted(merged), np.int64)
        tfs = np.array([merged[d][0] for d in ids], np.int64)
        dls = np.array([merged[d][1] for d in ids], np.int64)
        buf, meta = codec.encode_postings(ids, tfs, dls)
        rows.append((
            int(pdf["bucket"].iloc[0]), term, len(ids), int(tfs.sum()),
            buf, meta,
            codec._varbyte_encode(dls.astype(np.uint64)) if with_doclens
            else b"",
            codec.encode_positions_grouped(
                np.concatenate([merged[d][2] for d in ids]), tfs,
                np.array([0]), np.array([len(ids)]))[0]
            if with_positions else b"",
        ))
    return rows


def _assert_merge_matches(rows, with_doclens, with_positions):
    pdf = _frame(rows)
    got = termindex._merge_bucket(pdf, with_doclens, with_positions)
    assert list(got.columns) == _LAYOUT_COLS
    want = _reference_merge(pdf, with_doclens, with_positions)
    assert [tuple(r) for r in got.itertuples(index=False)] == want
    return got


@pytest.mark.parametrize("with_positions", [False, True])
def test_merge_bucket_multi_term_multi_gen(with_positions):
    """≥3 generations per term, interleaved docids, lists across the
    128-posting block boundary, both with and without positions."""
    rows = [
        _post("beta", 1, range(0, 400, 2)),
        _post("alpha", 1, [5, 9, 2**35]),
        _post("beta", 2, range(1, 260, 2)),
        _post("alpha", 4, [6, 2**35 + 1]),
        _post("beta", 4, [401, 403, 10**12]),
        _post("alpha", 2, [7]),
        _post("gamma", 2, [1]),
    ]
    got = _assert_merge_matches(rows, True, with_positions)
    assert got["term"].tolist() == ["alpha", "beta", "gamma"]
    assert got["df"].tolist() == [6, 333, 1]


def test_merge_bucket_fielded_without_doclens():
    """A fielded v2 source: composite ``field\\x1fterm`` rows, no doclen
    stream, merged with unit doclens and empty doclens blobs."""
    rows = [
        _post("body\x1fparse", 1, [1, 4, 9], stream=False, positions=False),
        _post("path\x1fparse", 1, [4], stream=False, positions=False),
        _post("body\x1fparse", 2, [12], stream=False, positions=False),
        _post("body\x1findex", 2, [2, 3], stream=False, positions=False),
    ]
    got = _assert_merge_matches(rows, False, False)
    assert set(got["doclens"]) == {b""} and set(got["positions"]) == {b""}


@pytest.mark.parametrize("with_positions", [False, True])
def test_merge_bucket_dels_mask_only_older_generations(with_positions):
    """A del at gen g masks gen < g only; a re-add after the delete keeps
    its newest posting (tf, doclen and positions of the re-add)."""
    rows = [
        _post("alpha", 1, [1, 2, 3, 5]),
        _table("dels", 2, [2, 5, 7]),
        _post("alpha", 3, [7]),            # newer than the del: survives
        _post("alpha", 3, [5], tfs=[4]),   # re-add of a deleted docid
        _post("beta", 1, [2]),             # fully tombstoned term
        _table("dels", 2, [3]),            # same-gen dels rows merge
    ]
    got = _assert_merge_matches(rows, True, with_positions)
    assert got["term"].tolist() == ["alpha"]
    ids, tfs = codec.decode_postings(got["postings"][0])
    assert ids.tolist() == [1, 5, 7] and tfs.tolist() == [2, 4, 2]


@pytest.mark.parametrize("with_positions", [False, True])
def test_merge_bucket_multi_gen_dels_and_same_gen_readd(with_positions):
    """Multi-generation stream rows under a later del: the del masks
    postings of every older generation, and a re-add in the del's own
    generation survives it."""
    rows = [
        _post("alpha", 3, [1, 4, 8, 2**36]),
        _post("beta", 3, list(range(0, 300, 3))),
        _post("alpha", 4, [2, 9]),
        _table("dels", 5, [4, 9, 30]),
        _post("beta", 5, [30]),                   # re-add in the del's gen
        _post("delta", 5, [3]),
    ]
    got = _assert_merge_matches(rows, True, with_positions)
    ids, _ = codec.decode_postings(got["postings"][0])
    assert ids.tolist() == [1, 2, 8, 2**36]


@pytest.mark.parametrize("with_positions", [False, True])
def test_merge_bucket_replicated_doc_tables(with_positions):
    """v2 post rows (no stream) resolve doclens from the replicated doc
    tables, latest generation winning; stream rows keep their own."""
    rows = [
        _post("alpha", 1, [1, 5, 9], stream=False),
        _post("alpha", 2, [11], stream=False),
        _post("beta", 2, [5, 11], stream=False),
        _post("beta", 3, [20]),                   # a v3 row in the bucket
        _table("docs", 1, [1, 5, 9], [10, 50, 90]),
        _table("docs", 2, [5, 11], [55, 110]),    # 5 re-added: 55 wins
        _table("dels", 2, [5]),
    ]
    got = _assert_merge_matches(rows, True, with_positions)
    assert codec._varbyte_decode(got["doclens"][0]).tolist() == [10, 90, 110]


@pytest.mark.parametrize("rows", [
    [_post("alpha", 1, [1, 2]), _table("dels", 2, [1, 2])],
    [_table("dels", 2, [1, 2])],
], ids=["all_tombstoned", "dels_only"])
def test_merge_bucket_empty_is_typed(rows):
    got = termindex._merge_bucket(_frame(rows), True, True)
    assert list(got.columns) == _LAYOUT_COLS and len(got) == 0
    assert got.dtypes.astype(str).tolist() == [
        "int32", "object", "int64", "int64",
        "object", "object", "object", "object"]


def test_merge_bucket_rejects_duplicate_docid():
    """Two surviving postings of one docid under one term (overlapping
    generations without a del) are a corrupt input, not a merge."""
    rows = [_post("alpha", 1, [1, 2]), _post("alpha", 2, [2, 3])]
    with pytest.raises(ValueError, match="strictly increasing"):
        termindex._merge_bucket(_frame(rows), True, False)


def _maxpos_blob():
    """A hand-built one-posting positions blob holding position MAXPOS
    (the encoder refuses to write one)."""
    stream = codec._varbyte_encode(np.array([codec.MAXPOS], np.uint64))
    return (np.uint32(1).tobytes() + np.int64(len(stream)).tobytes()
            + stream)


def test_merge_bucket_checks_positions_and_maxpos():
    short = _post("alpha", 1, [1, 2], tfs=[1, 1])
    short["positions"] = _post("alpha", 1, [1], tfs=[1])["positions"]
    with pytest.raises(ValueError, match="tf sum"):
        termindex._merge_bucket(_frame([short]), True, True)
    big = _post("alpha", 1, [1], tfs=[1])
    big["positions"] = _maxpos_blob()
    with pytest.raises(ValueError, match="MAXPOS"):
        termindex._merge_bucket(_frame([big]), True, True)


@pytest.mark.parametrize("missing", [6, 100], ids=["mid_table", "past_end"])
def test_merge_bucket_docid_absent_from_doc_tables(missing):
    rows = [_post("alpha", 1, [1, missing], stream=False),
            _table("docs", 1, [1, 5, 9], [10, 50, 90])]
    with pytest.raises(ValueError, match="doclen source missing"):
        termindex._merge_bucket(_frame(rows), True, False)
    with pytest.raises(ValueError, match="doclen source missing"):
        termindex._merge_bucket(_frame(rows[:1]), True, False)


@pytest.mark.parametrize("missing", [6, 100], ids=["mid_table", "past_end"])
def test_resolve_doclens_shard_docid_absent_from_doc_tables(missing):
    rows = [_post("alpha", 1, [1, 5], stream=False),
            _post("beta", 1, [1, missing], stream=False),
            _table("docs", 1, [1, 5, 9], [10, 50, 90])]
    pdf = _frame(rows).drop(columns="bucket")
    ok = termindex._resolve_doclens_shard(pdf.iloc[[0, 2]])
    assert codec._varbyte_decode(ok["doclens"][0]).tolist() == [10, 50]
    with pytest.raises(ValueError, match="doclen source missing"):
        termindex._resolve_doclens_shard(pdf)


def test_merge_bucket_makes_no_per_term_codec_call(monkeypatch):
    """The merge decodes and encodes a bucket in grouped calls; a per-term
    or per-row codec call creeping back in fails here (no timing)."""
    rows = [
        _post(f"t{i:02d}", g, range(2 * i + g % 2, 600, 2 + 2 * g))
        for i in range(12) for g in (1, 2)
    ] + [_post("zz", 2, [4, 8], stream=False),
         _table("docs", 2, [4, 8], [40, 80]),
         _table("dels", 2, [6, 9]),
         _table("dels", 3, [7])]
    pdf = _frame(rows)
    want = _reference_merge(pdf, True, True)

    def boom(*a, **k):
        raise AssertionError("per-term codec call in _merge_bucket")

    for mod in (codec, termindex):
        for name in ("decode_postings", "decode_positions", "encode_postings",
                     "_varbyte_decode", "_varbyte_encode"):
            if hasattr(mod, name):
                monkeypatch.setattr(mod, name, boom)
    got = termindex._merge_bucket(pdf, True, True)
    assert [tuple(r) for r in got.itertuples(index=False)] == want
    assert len(got) == 13


# ---- scan sizing, probe stats, relocation ----

def test_pruned_scan_partitions_follow_bytes(spark, layout):
    """The pruned layout scan runs in ceil(Σ touched bucket-file bytes /
    maxPartitionBytes) partitions: ONE for this small layout's several
    bucket files, more once maxPartitionBytes falls below a bucket file's
    size — with row-identical answers on both sides of the rule."""
    meta = termindex._load_meta(layout)
    terms = ["spark", "join", "merge", "the", "window", "customer"]
    files = termindex._bucket_files(layout, meta, terms)
    assert len(files) >= 3
    queries = [(0, "spark join merge"), (1, "the window"), (2, "customer")]

    def answers():  # earlier tests add generations to the fixture index
        post = sorted(tuple(r) for r in termindex.term_postings(
            spark, layout, terms, allow_stale=True).collect())
        ranked = _rows_of(termindex.bm25_topk(spark, layout, queries, k=10,
                                              allow_stale=True))
        return post, ranked

    rows = termindex._pruned_rows(spark, layout, meta, terms)
    assert rows.rdd.getNumPartitions() == 1
    want = answers()
    assert want[0] and want[1]
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max(size for _, size in files) // 2))
    try:
        rows = termindex._pruned_rows(spark, layout, meta, terms)
        assert rows.rdd.getNumPartitions() > 1
        assert answers() == want
    finally:
        spark.conf.set(key, old)


def test_term_meta_path_blobs_invalid_utf8_stats(tmp_path):
    """Row-group term stats compare as raw UTF-8 bytes: a bound that is
    not valid UTF-8 (what a writer that truncates long values may emit)
    still selects the row group holding the term, where decoding the
    stat raised in every phrase/NEAR/AND prologue."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gazetteer_spark.hashing import term_bucket

    n_buckets = 4
    d = tmp_path / "terms" / f"bucket={term_bucket('alpha', n_buckets)}"
    d.mkdir(parents=True)
    vals = [b"alpha", b"beta", b"\xff\xfe"]
    offsets = np.cumsum([0] + [len(v) for v in vals]).astype(np.int32)
    term = pa.Array.from_buffers(  # unvalidated: the last value is not UTF-8
        pa.string(), len(vals),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(b"".join(vals))])
    pq.write_table(pa.table({
        "term": term,
        "df": pa.array([3, 1, 2], pa.int64()),
        "postings": pa.array([b"pa", b"pb", b"pc"]),
    }), str(d / "part-00000.parquet"))
    st = pq.ParquetFile(str(d / "part-00000.parquet")).metadata \
        .row_group(0).column(0).statistics
    with pytest.raises(UnicodeDecodeError):
        st.max  # the stored bound really is invalid UTF-8
    got = termindex._term_meta_path_blobs(
        str(tmp_path), {"n_buckets": n_buckets}, ["alpha"], 10)
    assert got == ({"alpha": 3}, {"alpha": b"pa"})


def test_moved_index_and_layouts_still_serve(spark, documents,
                                             tmp_path_factory):
    """layout.json stores source_index relative to the layout dir, so an
    index moved together with its term and fuzzy layouts still serves
    (staleness check, prefix expansion over termstats); a layout that
    stores the path absolute, as older layouts do, still loads."""
    import json
    import shutil

    from gazetteer_spark import fuzzy as fz
    from gazetteer_spark import query as Q

    root = tmp_path_factory.mktemp("movable")
    idx, lay, fzd = str(root / "idx"), str(root / "lay"), str(root / "fz")
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 200), idx,
                      n_shards=2, id_col="doc_id", content_col="text",
                      doclens=True)
    termindex.build_term_layout(spark, idx, lay, n_buckets=4)
    fz.build_fuzzy_layout(spark, idx, fzd)
    for d in (lay, fzd):
        with open(f"{d}/layout.json") as f:
            assert json.load(f)["source_index"] == "../idx"
    queries = ["customer", "cust*", "custmer~1 OR filter"]

    def serve(lay, fzd):
        return [_rows_of(Q.search(spark, lay, q, k=5, fuzzy_dir=fzd))
                for q in queries]

    want = serve(lay, fzd)
    assert all(want)
    moved = tmp_path_factory.mktemp("moved") / "here"
    shutil.move(str(root), str(moved))
    lay2, fzd2 = str(moved / "lay"), str(moved / "fz")
    assert termindex._load_meta(lay2)["source_index"] == str(moved / "idx")
    assert serve(lay2, fzd2) == want
    with open(f"{lay2}/layout.json") as f:
        meta = json.load(f)
    meta["source_index"] = str(moved / "idx")  # an older, absolute layout
    with open(f"{lay2}/layout.json", "w") as f:
        json.dump(meta, f)
    assert termindex._load_meta(lay2)["source_index"] == str(moved / "idx")
    assert serve(lay2, fzd2) == want
