"""Positional postings (layout v2) + index-backed phrase queries.

Correctness oracle: the full-scan shingle recompute (the round-1
ft_phrase_match path) — the index-backed result must match it exactly,
including multi-generation and tombstone lifecycles.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gazetteer_spark.analyzer import (
    analyze_positions_pdf,
    py_tokenize,
    shingles_expr,
    tokens_expr,
)
from gazetteer_spark.index import phrase, spimi, wand
from gazetteer_spark.oracle import OracleIndex
from gazetteer_spark.index.codec import (
    decode_positions,
    encode_positions_grouped,
    gather_runs,
)


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def test_positions_roundtrip_multi_list():
    rng = np.random.RandomState(7)
    tfs, flat, starts, ends = [], [], [], []
    cursor = 0
    for _ in range(5):  # 5 terms
        nlist = rng.randint(1, 8)
        starts.append(cursor)
        for _ in range(nlist):
            tf = rng.randint(1, 20)
            pos = np.cumsum(rng.randint(1, 1000, size=tf))
            tfs.append(tf)
            flat.append(pos)
            cursor += 1
        ends.append(cursor)
    tfs = np.array(tfs, np.int64)
    flat_all = np.concatenate(flat).astype(np.int64)
    bufs = encode_positions_grouped(
        flat_all, tfs, np.array(starts, np.int64), np.array(ends, np.int64)
    )
    assert len(bufs) == 5
    cum = np.concatenate([[0], np.cumsum(tfs)])
    for t, (s, e) in enumerate(zip(starts, ends)):
        got = decode_positions(bufs[t], tfs[s:e])
        want = flat_all[cum[s] : cum[e]]
        assert np.array_equal(got, want)


def test_positions_selective_block_decode():
    """Selective decode of chosen blocks equals the matching slice of the
    full decode — across a multi-block posting list."""
    from gazetteer_spark.index.codec import BLOCK, decode_positions_blocks

    rng = np.random.RandomState(11)
    n_postings = 3 * BLOCK + 17  # 4 blocks
    tfs = rng.randint(1, 6, size=n_postings).astype(np.int64)
    flat = np.concatenate(
        [np.cumsum(rng.randint(1, 50, size=t)) for t in tfs]
    ).astype(np.int64)
    bufs = encode_positions_grouped(
        flat, tfs, np.array([0], np.int64), np.array([n_postings], np.int64)
    )
    full = decode_positions(bufs[0], tfs)
    assert np.array_equal(full, flat)
    for block_idx in ([1], [0, 2], [3], [1, 3]):
        sel_posts = np.concatenate(
            [np.arange(b * BLOCK, min((b + 1) * BLOCK, n_postings))
             for b in block_idx]
        )
        tfs_sel = tfs[sel_posts]
        cum = np.concatenate([[0], np.cumsum(tfs)])
        want = np.concatenate([
            flat[cum[p] : cum[p + 1]] for p in sel_posts
        ])
        got = decode_positions_blocks(
            bufs[0], np.array(block_idx, np.int64), tfs_sel
        )
        assert np.array_equal(got, want), block_idx


def test_positions_empty():
    assert encode_positions_grouped(
        np.zeros(0, np.int64), np.zeros(0, np.int64),
        np.array([0], np.int64), np.array([0], np.int64),
    ) == [b""]
    assert len(decode_positions(b"", np.zeros(0, np.int64))) == 0


def test_gather_runs():
    flat = np.array([10, 11, 20, 30, 31, 32], np.int64)
    tfs = np.array([2, 1, 3], np.int64)
    order = np.array([2, 0, 1], np.int64)
    assert np.array_equal(
        gather_runs(flat, tfs, order), np.array([30, 31, 32, 10, 11, 20])
    )


# ---------------------------------------------------------------------------
# positional analyzer
# ---------------------------------------------------------------------------

def test_positional_analyzer_matches_py_tokenize(spark, documents):
    rows = (
        documents.limit(50)
        .select("doc_id", "text", analyze_positions_pdf(F.col("text")).alias("tp"))
        .collect()
    )
    for r in rows:
        toks = py_tokenize(r["text"])
        for e in r["tp"]:
            assert e["tf"] == len(e["pos"])
            assert list(e["pos"]) == sorted(e["pos"])
            for p in e["pos"]:
                assert toks[p] == e["term"]
        assert sum(e["tf"] for e in r["tp"]) == len(toks)


# ---------------------------------------------------------------------------
# phrase via index
# ---------------------------------------------------------------------------

def _scan_phrase(documents, text_phrase):
    """Full-scan shingle oracle (the round-1 path)."""
    n = len(py_tokenize(text_phrase))
    occ = documents.select(
        F.col("doc_id").alias("docid"),
        F.explode(shingles_expr(tokens_expr(F.col("text")), n)).alias("sh"),
    )
    return {
        (r["docid"], r["n"]) for r in
        occ.filter(F.col("sh") == " ".join(py_tokenize(text_phrase)))
        .groupBy("docid").agg(F.count(F.lit(1)).alias("n")).collect()
    }


@pytest.fixture(scope="module")
def pos_index(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_pos"))
    spimi.build_index(spark, documents, d, n_shards=8,
                      id_col="doc_id", content_col="text", positions=True)
    return d


@pytest.mark.parametrize("text_phrase", ["key order", "the key", "key order by"])
def test_phrase_matches_scan(spark, documents, pos_index, text_phrase):
    got = {(r["docid"], r["n_occurrences"]) for r in
           phrase.phrase_match(spark, pos_index, text_phrase).collect()}
    assert got == _scan_phrase(documents, text_phrase)


def test_single_term_phrase_equals_tf(spark, documents, pos_index):
    got = {r["docid"]: r["n_occurrences"] for r in
           phrase.phrase_match(spark, pos_index, "order").collect()}
    tf = {r["docid"]: r["tf"] for r in
          documents.select(
              F.col("doc_id").alias("docid"),
              F.explode(tokens_expr(F.col("text"))).alias("term"))
          .filter(F.col("term") == "order")
          .groupBy("docid").agg(F.count(F.lit(1)).alias("tf")).collect()}
    assert got == tf


def test_phrase_reads_only_index_files(spark, pos_index):
    df = phrase.phrase_match(spark, pos_index, "key order")
    files = df.inputFiles()
    assert files
    assert all(pos_index in f for f in files)


def test_phrase_rejects_v1_index(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_v1"))
    spimi.build_index(spark, documents.limit(50), d, n_shards=4,
                      id_col="doc_id", content_col="text")
    with pytest.raises(ValueError, match="without positions"):
        phrase.phrase_match(spark, d, "key order")


def test_phrase_generations_and_tombstones(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_pos_gen"))
    base = documents.filter(F.col("doc_id") < 300)
    extra = documents.filter(F.col("doc_id") >= 300)
    spimi.build_index(spark, base, d, n_shards=8,
                      id_col="doc_id", content_col="text", positions=True)
    spimi.add_documents(spark, extra, d, id_col="doc_id", content_col="text")
    want = _scan_phrase(documents, "key order")
    got = {(r["docid"], r["n_occurrences"]) for r in
           phrase.phrase_match(spark, d, "key order").collect()}
    assert got == want
    # tombstone a matching doc: it must vanish from phrase results
    victims = sorted(r[0] for r in want)[:2]
    spimi.delete_documents(spark, victims, d)
    got2 = {(r["docid"], r["n_occurrences"]) for r in
            phrase.phrase_match(spark, d, "key order").collect()}
    assert got2 == {(i, n) for i, n in want if i not in victims}


def test_positional_compaction_byte_identical(spark, documents, tmp_path_factory):
    live = str(tmp_path_factory.mktemp("idx_pos_live"))
    spimi.build_index(spark, documents, live, n_shards=8,
                      id_col="doc_id", content_col="text", positions=True)
    deleted = [3, 77, 411]
    spimi.delete_documents(spark, deleted, live)
    compacted = str(tmp_path_factory.mktemp("idx_pos_compact"))
    spimi.compact_index(spark, live, compacted)
    fresh = str(tmp_path_factory.mktemp("idx_pos_fresh"))
    spimi.build_index(spark, documents.filter(~F.col("doc_id").isin(deleted)),
                      fresh, n_shards=8, id_col="doc_id", content_col="text",
                      positions=True)
    man_a = {r["shard"]: r["checksum"]
             for r in spimi.load_manifest(spark, compacted).collect()}
    man_b = {r["shard"]: r["checksum"]
             for r in spimi.load_manifest(spark, fresh).collect()}
    assert man_a == man_b
    got = {(r["docid"], r["n_occurrences"]) for r in
           phrase.phrase_match(spark, compacted, "key order").collect()}
    want = _scan_phrase(documents.filter(~F.col("doc_id").isin(deleted)),
                        "key order")
    assert got == want


def test_phrase_randomized_small_vocab(spark, tmp_path_factory):
    """Seeded randomized corpus with a 12-token vocabulary: every posting
    list spans multiple blocks, phrases repeat within docs, and the
    selective-block executor must agree with a pure-Python oracle on
    25 sampled phrases and 10 NEAR pairs."""
    import numpy as np

    rng = np.random.RandomState(123)
    vocab = [f"tok{i}" for i in range(12)]
    rows = []
    for i in range(300):
        n = rng.randint(5, 60)
        rows.append((i, " ".join(vocab[j] for j in rng.randint(0, 12, size=n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("idx_rand"))
    spimi.build_index(spark, docs, d, n_shards=4,
                      id_col="doc_id", content_col="text", positions=True)

    toks = {i: t.split() for i, t in rows}

    def py_phrase(terms):
        out = {}
        for i, ts in toks.items():
            c = sum(
                1 for p in range(len(ts) - len(terms) + 1)
                if ts[p : p + len(terms)] == terms
            )
            if c:
                out[(i, c)] = None
        return set(out)

    for trial in range(25):
        di = int(rng.randint(0, 300))
        ts = toks[di]
        ln = int(rng.randint(2, min(4, len(ts)) + 1))
        start = int(rng.randint(0, len(ts) - ln + 1))
        terms = ts[start : start + ln]
        got = {(r["docid"], r["n_occurrences"]) for r in
               phrase.phrase_match(spark, d, " ".join(terms)).collect()}
        assert got == py_phrase(terms), terms

    for trial in range(10):
        a, b = rng.choice(12, size=2, replace=False)
        ta, tb = vocab[a], vocab[b]
        k = int(rng.randint(1, 5))
        got = {(r["docid"], r["n_pairs"]) for r in
               phrase.near_match(spark, d, ta, tb, k=k).collect()}
        want = set()
        for i, ts in toks.items():
            pa = [p for p, t in enumerate(ts) if t == ta]
            pb = [p for p, t in enumerate(ts) if t == tb]
            n = sum(1 for x in pa for y in pb if abs(x - y) <= k)
            if n:
                want.add((i, n))
        assert got == want, (ta, tb, k)


def test_near_match_vs_python(spark, documents, pos_index):
    got = {(r["docid"], r["n_pairs"]) for r in
           phrase.near_match(spark, pos_index, "key", "order", k=3).collect()}
    want = set()
    for r in documents.collect():
        toks = py_tokenize(r["text"])
        pa = [i for i, t in enumerate(toks) if t == "key"]
        pb = [i for i, t in enumerate(toks) if t == "order"]
        n = sum(1 for a in pa for b in pb if abs(a - b) <= 3)
        if n:
            want.add((r["doc_id"], n))
    assert got == want and got


def test_near_match_validation(spark, pos_index):
    with pytest.raises(ValueError, match="distinct"):
        phrase.near_match(spark, pos_index, "key", "KEY", k=2)


def test_topk_and_conjunctive_bm25(spark, documents, pos_index):
    """AND retrieval: every hit contains all terms; scores equal the exact
    scorer's; a query with an out-of-corpus term returns nothing."""
    from gazetteer_spark.bm25 import doc_stats, score_queries
    from gazetteer_spark.analyzer import postings_sql, tokens_expr

    queries = [(0, "customer filter group"), (7, "key zzz_not_a_term")]
    got = wand.topk_and(spark, pos_index, queries, k=10).collect()
    assert all(r["query_id"] == 0 for r in got)  # strict AND drops query 7
    terms = set(py_tokenize("customer filter group"))
    tok = {r["doc_id"]: set(r["t"]) for r in
           documents.select("doc_id", tokens_expr(F.col("text")).alias("t")).collect()}
    for r in got:
        assert terms <= tok[r["docid"]]
    # scores must equal the exact (non-index) scorer for the same docids
    postings = postings_sql(documents, "doc_id", "text")
    exact = {(r["query_id"], r["docid"]): r["score"] for r in
             score_queries(spark, postings, doc_stats(postings),
                           [(0, "customer filter group")], k=10**6).collect()}
    for r in got:
        assert exact[(0, r["docid"])] == pytest.approx(r["score"], abs=1e-9)
    # rank pinning: (score desc, docid asc)
    seq = [(r["rank"], -r["score"], r["docid"]) for r in
           sorted(got, key=lambda r: r["rank"])]
    assert seq == sorted(seq)


def test_topk_and_respects_tombstones(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_and_dels"))
    spimi.build_index(spark, documents, d, n_shards=4,
                      id_col="doc_id", content_col="text")
    before = {r["docid"] for r in
              wand.topk_and(spark, d, [(0, "customer filter group")], k=5).collect()}
    assert before
    victim = min(before)
    spimi.delete_documents(spark, [victim], d)
    after = {r["docid"] for r in
             wand.topk_and(spark, d, [(0, "customer filter group")], k=5).collect()}
    assert victim not in after


def test_positional_batched_build_byte_identical(spark, documents, tmp_path_factory):
    """Partial-build (batch_shards) resume path must produce byte-identical
    positional segments (manifest checksums cover the positions stream)."""
    a = str(tmp_path_factory.mktemp("idx_pos_a"))
    b = str(tmp_path_factory.mktemp("idx_pos_b"))
    spimi.build_index(spark, documents, a, n_shards=8, id_col="doc_id",
                      content_col="text", positions=True)
    spimi.build_index(spark, documents, b, n_shards=8, id_col="doc_id",
                      content_col="text", positions=True, batch_shards=3)
    ca = {r["shard"]: r["checksum"] for r in spimi.load_manifest(spark, a).collect()}
    cb = {r["shard"]: r["checksum"] for r in spimi.load_manifest(spark, b).collect()}
    assert ca == cb


def test_wand_ignores_positions(spark, documents, pos_index, tmp_path_factory):
    """Scoring over a v2 index must equal scoring over a v1 index."""
    d1 = str(tmp_path_factory.mktemp("idx_v1_cmp"))
    spimi.build_index(spark, documents, d1, n_shards=8,
                      id_col="doc_id", content_col="text")
    q = [(0, "spark join merge"), (1, "customer filter group")]
    a = wand.topk(spark, pos_index, q, k=10).orderBy("query_id", "rank").collect()
    b = wand.topk(spark, d1, q, k=10).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------------------
# N-term NEAR + ranked phrase
# ---------------------------------------------------------------------------

def _positions_by_doc(documents):
    by_doc = {}
    for r in documents.select("doc_id", "text").collect():
        toks = py_tokenize(r["text"])
        d = {}
        for i, t in enumerate(toks):
            d.setdefault(t, []).append(i)
        by_doc[r["doc_id"]] = d
    return by_doc


def _near_n_python(documents, terms, k, ordered):
    want = {}
    for docid, pos in _positions_by_doc(documents).items():
        if any(t not in pos for t in set(terms)):
            continue
        n = 0
        for a in pos[terms[0]]:
            if not ordered:
                if all(any(abs(b - a) <= k for b in pos[t])
                       for t in terms[1:]):
                    n += 1
            else:
                def chain(prev, rest):
                    if not rest:
                        return True
                    return any(
                        prev < q <= prev + k and chain(q, rest[1:])
                        for q in pos[rest[0]]
                    )
                if chain(a, terms[1:]):
                    n += 1
        if n:
            want[docid] = n
    return want


@pytest.mark.parametrize("ordered", [False, True])
def test_near_n_matches_python(spark, documents, pos_index, ordered):
    terms, k = ["key", "order", "sort"], 4
    got = {r["docid"]: r["n_anchors"] for r in
           phrase.near_match_n(spark, pos_index, terms, k=k,
                               ordered=ordered).collect()}
    want = _near_n_python(documents, terms, k, ordered)
    assert got == want and got


def test_near_n_two_terms_unordered_consistent_with_pairs(
        spark, documents, pos_index):
    """For two terms, an unordered anchor is an occurrence of a with ≥1 b in
    range — cross-checked against the python brute force (near_match counts
    PAIRS, near_match_n counts anchors; both derive from the same windows)."""
    got = {r["docid"]: r["n_anchors"] for r in
           phrase.near_match_n(spark, pos_index, ["key", "order"],
                               k=3).collect()}
    want = _near_n_python(documents, ["key", "order"], 3, False)
    assert got == want


def test_phrase_topk_ranked(spark, documents, pos_index):
    """Ranked phrase = phrase candidates ordered by BM25 over the phrase
    terms with (score desc, docid asc) pinning — python oracle twin."""
    got = [(r["rank"], r["docid"], r["score"]) for r in
           phrase.phrase_topk(spark, pos_index, "key order", k=10)
           .orderBy("rank").collect()]
    matched = {d for d, _ in _scan_phrase(documents, "key order")}
    oracle = OracleIndex([(r["doc_id"], r["text"])
                          for r in documents.collect()])
    terms = ["key", "order"]
    scored = sorted(
        ((round(oracle.score_one(d, terms), 4), d) for d in matched),
        key=lambda p: (-p[0], p[1]),
    )[:10]
    want = [(i + 1, d, s) for i, (s, d) in enumerate(scored)]
    assert got == want and got


def test_phrase_scorer_decodes_each_term_once(spark, pos_index,
                                             monkeypatch):
    """The ranked phrase scorer takes each term's tf from the match's own
    position decode: one _term_positions call per distinct phrase term
    in a shard that scores docs, never a second pass over its rows."""
    from gazetteer_spark.index.spimi import committed_segments, load_stats

    terms = ["key", "order"]
    pdf = committed_segments(spark, pos_index).filter(
        ((F.col("kind") == "post") & F.col("term").isin(terms))
        | F.col("kind").isin(["docs", "dels"])).toPandas()
    calls = []
    real = phrase._term_positions

    def counted(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(phrase, "_term_positions", counted)
    avgdl = load_stats(pos_index)["avgdl"]
    scored = 0
    for _, shard in pdf.groupby("shard"):
        calls.clear()
        out = phrase._phrase_scored_shard(
            shard, terms, {"key": 1.5, "order": 0.7}, avgdl, 10, 4, 4096)
        if len(out):
            scored += 1
            assert len(calls) == len(terms)
    assert scored


def test_phrase_topk_absent_term_empty(spark, pos_index):
    assert phrase.phrase_topk(spark, pos_index, "key zzz_never").count() == 0


# ---------------------------------------------------------------------------
# batched serving (one scan + one job for N queries)
# ---------------------------------------------------------------------------

def test_phrase_match_batch_equals_singles(spark, pos_index):
    qs = [(0, "key order"), (1, "sort by"), (2, "the")]
    got = {(r["query_id"], r["docid"], r["n_occurrences"]) for r in
           phrase.phrase_match_batch(spark, pos_index, qs).collect()}
    want = set()
    for qid, text in qs:
        want |= {(qid, r["docid"], r["n_occurrences"]) for r in
                 phrase.phrase_match(spark, pos_index, text).collect()}
    assert got == want and got


@pytest.mark.parametrize("ordered", [False, True])
def test_near_n_batch_equals_singles(spark, pos_index, ordered):
    qs = [(0, ["key", "order"]), (1, ["key", "order", "sort"])]
    got = {(r["query_id"], r["docid"], r["n_anchors"]) for r in
           phrase.near_match_n_batch(spark, pos_index, qs, k=4,
                                     ordered=ordered).collect()}
    want = set()
    for qid, terms in qs:
        want |= {(qid, r["docid"], r["n_anchors"]) for r in
                 phrase.near_match_n(spark, pos_index, terms, k=4,
                                     ordered=ordered).collect()}
    assert got == want and got


def test_phrase_topk_batch_equals_singles(spark, pos_index):
    qs = [(0, "key order"), (1, "sort by"), (2, "key zzz_never")]
    got = [(r["query_id"], r["rank"], r["docid"], r["score"]) for r in
           phrase.phrase_topk_batch(spark, pos_index, qs, k=5)
           .orderBy("query_id", "rank").collect()]
    want = []
    for qid, text in qs:
        want += [(qid, r["rank"], r["docid"], r["score"]) for r in
                 phrase.phrase_topk(spark, pos_index, text, k=5)
                 .orderBy("rank").collect()]
    assert got == want and got
