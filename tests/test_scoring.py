"""BM25 / BM25F scoring kernel (gazetteer_spark/index/scoring.py) against
brute-force pure-Python references written in the engine's float
operation order, compared bit for bit (``float.hex``); the shard and
layout-batch scorers built on it; and the guard that keeps the K1/B
arithmetic inside the kernel and its Column twins. Spark-free."""

from __future__ import annotations

import ast
import math
import pathlib
import random

import numpy as np
import pandas as pd
import pytest

from gazetteer_spark import B, K1
from gazetteer_spark.index import termindex, wand
from gazetteer_spark.index.codec import BLOCK, _varbyte_encode, encode_postings
from gazetteer_spark.index.scoring import (
    bm25_contrib,
    bm25_norm,
    bm25f_contrib,
    bm25f_weight,
    idf,
    local_topk,
    rank_margin,
    term_bound,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "gazetteer_spark"
SEEDS = [1, 2, 3, 4, 5]


def _hex(xs) -> list[str]:
    return [float(x).hex() for x in xs]


# ---------------------------------------------------------------------------
# brute-force references, one Python float at a time
# ---------------------------------------------------------------------------

def _ref_idf(n_docs, df):
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _ref_bm25(w_idf, tf, dl, avgdl):
    return w_idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _ref_tfw(boost, tf, flen, avglen):
    return boost * tf / (1.0 - B + B * flen / avglen)


def _ref_bm25f(w_idf, tfw):
    return w_idf * tfw / (K1 + tfw)


# ---------------------------------------------------------------------------
# kernel functions
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", SEEDS)
def test_idf_matches_reference(seed):
    """Kernel idf vs the formula; np.log and math.log may differ by an ulp
    (more_like_this rounds tf·idf to 6 dp for that reason)."""
    rng = random.Random(seed)
    for _ in range(200):
        n = rng.randint(1, 10**7)
        df = rng.randint(1, n)
        assert idf(n, df) == pytest.approx(_ref_idf(n, df), rel=1e-15)
        assert idf(n, df) > 0


@pytest.mark.parametrize("seed", SEEDS)
def test_bm25_query_scores_bit_identical(seed):
    """A doc's BM25 score for a query with REPEATED terms and boosts:
    summing kernel contributions in query order equals the reference sum
    bit for bit."""
    rng = np.random.default_rng(seed)
    n_docs, avgdl = 1000, float(rng.uniform(5, 300))
    vocab = [f"t{i}" for i in range(6)]
    dfs = {t: int(rng.integers(1, n_docs)) for t in vocab}
    for _ in range(50):
        query = list(rng.choice(vocab, size=int(rng.integers(1, 8))))
        boosts = [float(rng.choice([1.0, 0.5, 2.0, rng.uniform(0.1, 4)]))
                  for _ in query]
        dl = int(rng.integers(1, 2000))
        tfs = {t: int(rng.integers(1, 40)) for t in vocab}
        got, want = 0.0, 0.0
        norm = bm25_norm(np.array([dl], np.int64), avgdl)
        for t, w in zip(query, boosts):
            got += float(bm25_contrib(
                w * idf(n_docs, dfs[t]), np.array([tfs[t]], np.int32),
                norm)[0])
            want += _ref_bm25(w * idf(n_docs, dfs[t]), tfs[t], dl, avgdl)
        assert got.hex() == want.hex()


@pytest.mark.parametrize("seed", SEEDS)
def test_bm25_vectors_bit_identical(seed):
    rng = np.random.default_rng(seed)
    n = 500
    tf = rng.integers(1, 60, n).astype(np.int32)
    dl = rng.integers(1, 5000, n)
    w_idf = rng.uniform(0.01, 12.0, n)
    avgdl = float(rng.uniform(3, 400))
    got = bm25_contrib(w_idf, tf, bm25_norm(dl.astype(np.float64), avgdl))
    want = [_ref_bm25(float(a), int(b), int(c), avgdl)
            for a, b, c in zip(w_idf, tf, dl)]
    assert _hex(got) == _hex(want)
    # the wand block bound: idf-free contribution at (max tf, min dl)
    got = bm25_contrib(1.0, tf, bm25_norm(dl.astype(np.float64), avgdl))
    want = [(int(b) * (K1 + 1.0)) / (int(b) + K1 * (1.0 - B + B * int(c)
                                                     / avgdl))
            for b, c in zip(tf, dl)]
    assert _hex(got) == _hex(want)
    # a contribution never reaches its term bound
    assert (bm25_contrib(w_idf, tf, bm25_norm(dl.astype(np.float64), avgdl))
            < np.array([term_bound(float(x)) for x in w_idf])).all()


@pytest.mark.parametrize("seed", SEEDS)
def test_bm25f_bit_identical(seed):
    """tfw summed over fields in sorted order, repeated query terms and
    field boosts; plus the per-block bound bm25f_weight(b, m, m, avglen)
    dominating every posting of the block."""
    rng = np.random.default_rng(seed)
    fields = ["body", "name", "tags"]
    boosts = {"body": 1.0, "name": float(rng.uniform(0.5, 5)),
              "tags": float(rng.uniform(0.1, 2))}
    avglen = {f: float(rng.uniform(2, 200)) for f in fields}
    n_docs = 5000
    for _ in range(50):
        query = list(rng.choice(["a", "b", "c"], size=int(rng.integers(1, 6))))
        got, want = 0.0, 0.0
        for t in query:
            w_idf = idf(n_docs, int(rng.integers(1, n_docs)))
            tf = {f: int(rng.integers(0, 20)) for f in fields}
            flen = {f: tf[f] + int(rng.integers(0, 300)) for f in fields}
            tfw_g, tfw_r = 0.0, 0.0
            for f in fields:
                if tf[f]:
                    tfw_g += float(bm25f_weight(
                        boosts[f], np.array([tf[f]], np.int64),
                        np.array([flen[f]], np.float64), avglen[f])[0])
                    tfw_r += _ref_tfw(boosts[f], tf[f], flen[f], avglen[f])
            assert tfw_g.hex() == tfw_r.hex()
            if tfw_g > 0:
                got += bm25f_contrib(w_idf, tfw_g)
                want += _ref_bm25f(w_idf, tfw_r)
        assert got.hex() == want.hex()
    m = rng.integers(1, 50, 200).astype(np.float64)
    bound = bm25f_weight(2.0, m, m, 30.0)
    assert _hex(bound) == _hex(_ref_tfw(2.0, float(x), float(x), 30.0)
                               for x in m)
    tf = np.floor(m * rng.uniform(0.01, 1.0, 200)).clip(1)
    flen = tf + rng.integers(0, 100, 200)
    assert (bm25f_weight(2.0, tf, flen, 30.0) <= bound).all()


def test_rank_margin_covers_two_rounding_ulps():
    assert rank_margin(4) == 2.0 * 10.0 ** -4 + 1e-9
    assert rank_margin(None) == 1e-9
    # two docs whose scores round to the same 4-dp value differ by < margin
    a, b = 1.23445000001, 1.23454999999
    assert round(a, 4) == round(b, 4) and b - a < rank_margin(4)


def test_local_topk_emission_pins_rank_order():
    """A shard's emission keeps every doc tied with the k-th rounded
    score, orders by (rounded score desc, docid asc), returns raw
    scores, and stops at the cap."""
    ids = np.array([9, 4, 7, 2, 5, 1], np.int64)
    scores = np.array([1.00004, 2.0, 0.99996, 1.00001, 0.5, 3.0])
    got_ids, got_raw = local_topk(ids, scores, 3, 4, 10)
    # rounded: 1.0, 2.0, 1.0, 1.0, 0.5, 3.0 — the bar (3rd) is 1.0
    assert got_ids.tolist() == [1, 4, 2, 7, 9]
    assert got_raw.tolist() == [3.0, 2.0, 1.00001, 0.99996, 1.00004]
    assert local_topk(ids, scores, 3, 4, 2)[0].tolist() == [1, 4]
    # unrounded: no ties, exactly k; k ≥ n keeps everything
    assert local_topk(ids, scores, 3, None, 10)[0].tolist() == [1, 4, 9]
    assert local_topk(ids, scores, 6, None, 10)[0].tolist() == [
        1, 4, 9, 2, 7, 5]


def _ref_emission(scores: dict[int, float], k, round_to, cap):
    """(docid, raw score) emitted by a shard: every doc whose rounded
    score reaches the k-th largest rounded score, by (rounded desc,
    docid asc), at most ``cap``."""
    rnd = {d: (round(s, round_to) if round_to is not None else s)
           for d, s in scores.items()}
    if len(rnd) > k:
        bar = sorted(rnd.values(), reverse=True)[k - 1]
        rnd = {d: r for d, r in rnd.items() if r >= bar}
    order = sorted(rnd, key=lambda d: (-rnd[d], d))[:cap]
    return [(d, scores[d]) for d in order]


# ---------------------------------------------------------------------------
# doc-sharded shard scorer: tombstone + re-add, bit-identical scores
# ---------------------------------------------------------------------------

def _shard_rows(gens, dels):
    """Segment rows of one shard. ``gens``: {gen: {docid: [tokens]}};
    ``dels``: {gen: [docids]} tombstones (masking OLDER generations)."""
    rows = []
    for gen, docs in sorted(gens.items()):
        ids = np.array(sorted(docs), np.int64)
        lens = np.array([len(docs[d]) for d in ids], np.int64)
        rows.append(("docs", None, gen, encode_postings(ids, lens)[0], b""))
        for t in sorted({t for toks in docs.values() for t in toks}):
            t_ids = np.array([d for d in ids if t in docs[d]], np.int64)
            tfs = np.array([docs[d].count(t) for d in t_ids], np.int64)
            dls = np.array([len(docs[d]) for d in t_ids], np.int64)
            p, m = encode_postings(t_ids, tfs, dls)
            rows.append(("post", t, gen, p, m))
    for gen, ids in dels.items():
        buf = encode_postings(np.array(sorted(ids), np.int64),
                              np.ones(len(ids), np.int64))[0]
        rows.append(("dels", None, gen, buf, b""))
    return pd.DataFrame(rows, columns=["kind", "term", "gen", "postings",
                                       "blockmeta"])


def _ref_shard(gens, dels, qplan, avgdl, k, round_to, cap):
    """Brute-force twin of wand._score_shard for one query: visible docs
    (latest generation wins, tombstones mask older generations), each
    doc's terms summed in the scorer's term order — descending term upper
    bound (idf × the best block's idf-free contribution), stable."""
    visible: dict[int, list[str]] = {}
    for gen, docs in sorted(gens.items()):
        for d, toks in docs.items():
            visible[d] = toks
    for gen, ids in dels.items():
        for d in ids:
            if d in visible and all(g < gen for g, docs in gens.items()
                                    if d in docs):
                del visible[d]

    def ub(t, w_idf):
        best = 0.0
        for gen, docs in gens.items():
            ids = sorted(d for d in docs if t in docs[d])
            for b in range(0, len(ids), BLOCK):
                blk = ids[b:b + BLOCK]
                mtf = max(docs[d].count(t) for d in blk)
                mdl = min(len(docs[d]) for d in blk)
                best = max(best, (mtf * (K1 + 1.0)) / (
                    mtf + K1 * (1.0 - B + B * mdl / avgdl)))
        return w_idf * best

    terms = sorted(qplan, key=lambda tw: -ub(*tw))
    scores = {}
    for d, toks in visible.items():
        s, hit = 0.0, False
        for t, w_idf in terms:
            if t in toks:
                s += _ref_bm25(w_idf, toks.count(t), len(toks), avgdl)
                hit = True
        if hit:
            scores[d] = s
    return _ref_emission(scores, k, round_to, cap)


@pytest.mark.parametrize("seed", SEEDS)
def test_score_shard_matches_bruteforce_with_tombstone_and_readd(seed):
    """wand._score_shard over codec-encoded segment rows of two
    generations — one doc deleted, one deleted and re-added with new
    content and length — equals the brute-force reference in float hex,
    for MaxScore-pruned (small k) and exhaustive queries alike."""
    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d", "e", "f"]
    weights = [40, 20, 10, 5, 2, 1]
    n = 300  # > BLOCK postings for the common terms: several blocks

    def doc():
        return rng.choices(vocab, weights, k=rng.randint(1, 30))

    gen1 = {d: doc() for d in range(0, 3 * n, 3)}
    gone, readd = 3 * rng.randrange(n), 3 * rng.randrange(n)
    while readd == gone:
        readd = 3 * rng.randrange(n)
    gens = {1: gen1, 2: {readd: doc() + ["f"] * 9}}
    dels = {2: [gone, readd]}
    pdf = _shard_rows(gens, dels)

    n_docs = len(gen1)
    avgdl = sum(len(t) for t in gen1.values()) / n_docs
    df = {t: sum(t in toks for toks in gen1.values()) for t in vocab}
    queries = [["a", "f"], ["b", "c", "d"], ["e"], vocab, ["f", "e", "a"]]
    for k, round_to in [(3, 4), (10, 4), (5, None), (1000, 4)]:
        qplans = [(qi, [(t, idf(n_docs, df[t])) for t in sorted(q)])
                  for qi, q in enumerate(queries)]
        got = wand._score_shard(pdf, qplans, avgdl, k, round_to, 4096)
        assert got.dtypes.tolist() == ["int32", "int64", "float64"]
        for qi, plan in qplans:
            mine = got[got["query_id"] == qi]
            want = _ref_shard(gens, dels, plan, avgdl, k, round_to, 4096)
            assert mine["docid"].tolist() == [d for d, _ in want]
            assert _hex(mine["score"]) == _hex(s for _, s in want)
        assert gone not in got["docid"].tolist()


def test_score_shard_empty_shard_frame_is_typed():
    pdf = _shard_rows({1: {}}, {})
    got = wand._score_shard(pdf, [(0, [("a", 1.0)])], 1.0, 3, 4, 10)
    assert got.empty
    assert got.dtypes.tolist() == ["int32", "int64", "float64"]


# ---------------------------------------------------------------------------
# layout batch scorer: one grouped decode + np.repeat fan-out
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", SEEDS)
def test_layout_contrib_batch_matches_per_row_reference(seed):
    """termindex._contrib_batch (one Arrow batch of layout rows) equals
    the per-(row, query) reference row for row, in order and in float
    hex: several queries subscribing to one term, boosts, candidate
    restriction, and an unsubscribed row in the batch."""
    rng = np.random.default_rng(seed)
    avgdl = float(rng.uniform(5, 50))
    doclen = rng.integers(1, 100, 2000)
    rows = []
    for t in ["apple", "kiwi", "lime", "pear", "plum"]:
        ids = np.sort(rng.choice(2000, int(rng.integers(1, 400)),
                                 replace=False)).astype(np.int64)
        tfs = rng.integers(1, 9, len(ids))
        dls = doclen[ids]
        rows.append((t, encode_postings(ids, tfs, dls)[0],
                     _varbyte_encode(dls.astype(np.uint64)), ids, tfs, dls))
    pdf = pd.DataFrame([r[:3] for r in rows],
                       columns=["term", "postings", "doclens"])
    idf_by = {r[0]: float(rng.uniform(0.1, 8)) for r in rows}
    subs = {"apple": [0, 1, 2], "kiwi": [1], "pear": [2, 0], "plum": [0]}
    weights = {(0, "apple"): 2.5, (2, "pear"): 0.25}
    cands = {0: np.sort(rng.choice(2000, 300, replace=False)).astype(np.int64)}
    restrict = {(0, "apple"), (0, "plum")}
    got = termindex._contrib_batch(pdf, subs, idf_by, avgdl, cands, restrict,
                                   weights)
    cand_sets = {q: set(c.tolist()) for q, c in cands.items()}
    want = []
    for t, _, _, ids, tfs, dls in rows:
        for q in subs.get(t, []):
            for d, tf, dl in zip(ids, tfs, dls):
                if (q, t) in restrict and int(d) not in cand_sets[q]:
                    continue
                c = _ref_bm25(idf_by[t], float(tf), float(dl), avgdl)
                w = weights.get((q, t), 1.0)
                want.append((q, int(d), c * w if w != 1.0 else c))
    assert got["query_id"].tolist() == [q for q, _, _ in want]
    assert got["docid"].tolist() == [d for _, d, _ in want]
    assert _hex(got["contrib"]) == _hex(c for _, _, c in want)
    assert got.dtypes.tolist() == ["int32", "int64", "float64"]
    empty = termindex._contrib_batch(pdf.iloc[:0], subs, idf_by, avgdl,
                                     {}, set(), {})
    assert empty.empty
    assert empty.dtypes.tolist() == ["int32", "int64", "float64"]


# ---------------------------------------------------------------------------
# guard: K1/B arithmetic lives only in the kernel, its Column twins and
# the independent oracle
# ---------------------------------------------------------------------------

BM25_ARITHMETIC_ALLOWED = {"index/scoring.py", "bm25.py", "oracle.py"}


def _bm25_arithmetic(tree):
    """Sorted line numbers holding an arithmetic node that reads K1 or B."""
    def reads_const(node):
        return any((isinstance(n, ast.Name) and n.id in ("K1", "B"))
                   or (isinstance(n, ast.Attribute) and n.attr in ("K1", "B"))
                   for n in ast.walk(node))
    return sorted({n.lineno for n in ast.walk(tree)
                   if isinstance(n, (ast.BinOp, ast.AugAssign))
                   and reads_const(n)})


def test_bm25_arithmetic_only_in_kernel():
    """Every BM25/BM25F computation goes through index/scoring.py (numpy)
    or bm25.py (Spark Columns): a BinOp on K1 or B anywhere else in the
    package would bring back a copy of the scoring math."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in BM25_ARITHMETIC_ALLOWED:
            continue
        offenders += [f"{rel}:{line}" for line in _bm25_arithmetic(
            ast.parse(path.read_text(), filename=rel))]
    assert not offenders, offenders
    # the guard sees the kernel's own arithmetic and a planted copy
    kernel = (PKG / "index" / "scoring.py").read_text()
    assert _bm25_arithmetic(ast.parse(kernel))
    planted = "x = 1\nnorm = K1 * (1.0 - B + B * dl / avgdl)\n"
    assert _bm25_arithmetic(ast.parse(planted)) == [2]
    assert _bm25_arithmetic(ast.parse("s += gazetteer_spark.K1 * x")) == [1]
