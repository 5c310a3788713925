"""The BM25 / BM25F scoring kernel: the one numpy home of the ranking math.

Every numpy scorer in the engine (the doc-sharded MaxScore shards in
``wand.py`` and ``fielded.py``, the layout scorers in ``termindex.py``, the
phrase scorers) calls these functions; ``bm25.py`` holds their Spark
Column twins and ``oracle.py`` the independent pure-Python check. Pure
numpy — no Spark, no pandas — so it runs the same inside a Python task and
on the driver.

Float semantics are FROZEN: each function keeps the operation order the
scores have always been computed in (left-associated, Python precedence),
so every emitted score is bit-identical across call sites and releases.
Callers compose the functions rather than rewrite them — in particular a
contribution is never reassociated as ``idf * tfnorm``.

    idf(t)          = ln(1 + (N - df + 0.5) / (df + 0.5))
    norm(d)         = K1 * (1 - B + B * dl / avgdl)
    contrib(t, d)   = idf * (tf * (K1 + 1)) / (tf + norm)           BM25
    tfw(t, d)       = Σ_f boost_f * tf_f / (1 - B + B * len_f / avglen_f)
    contrib(t, d)   = idf * tfw / (K1 + tfw)                        BM25F

Rank contract: top-k orders by (score rounded to ``round_to`` dp desc,
docid asc). Pruning compares raw partial scores against θ with
:func:`rank_margin` of slack, so no doc that could TIE the k-th rounded
score is ever dropped.
"""

from __future__ import annotations

import numpy as np

from .. import B, K1

# slack on top of the two rounding ulps, for the float error of the
# partial sums the pruning tests compare
_EPS = 1e-9


def idf(n_docs: int, df: int) -> float:
    """BM25 inverse document frequency (always > 0)."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def bm25_norm(dl, avgdl: float):
    """Length normalization ``K1 * (1 - B + B * dl / avgdl)``."""
    return K1 * (1.0 - B + B * dl / avgdl)


def bm25_contrib(idf, tf, norm):
    """One term's BM25 contribution for a posting whose doc has ``norm``
    (:func:`bm25_norm`). With ``idf = 1.0`` (an exact multiply) it is the
    idf-free tf saturation the block bounds use."""
    return idf * (tf * (K1 + 1.0)) / (tf + norm)


def bm25f_weight(boost, tf, flen, avglen):
    """One field's boost-weighted, length-normalized tf; the BM25F tfw is
    their sum over fields in sorted field order. ``bm25f_weight(boost, m,
    m, avglen)`` bounds every posting of a block whose max tf is m: the
    weight falls as flen grows, a field holding tf occurrences is at
    least tf long, and the weight at flen = tf grows with tf."""
    return boost * tf / (1.0 - B + B * flen / avglen)


def bm25f_contrib(idf, tfw):
    """One term's BM25F contribution, saturating the cross-field tfw."""
    return idf * tfw / (K1 + tfw)


def term_bound(weighted_idf: float) -> float:
    """Upper bound of one term's BM25 contribution over every doc: tf
    saturation stays below K1 + 1. ``weighted_idf`` is idf times the
    query's boost of the term."""
    return weighted_idf * (K1 + 1.0)


def rank_margin(round_to: int | None) -> float:
    """Pruning slack: a doc is dropped only when its score bound is below
    θ minus this. Two rounding ulps cover round(x) vs round(θ), so a doc
    that could tie the k-th rounded score is never pruned."""
    return (2.0 * 10.0 ** (-round_to) if round_to is not None
            else 0.0) + _EPS


def local_topk(ids: np.ndarray, scores: np.ndarray, k: int,
               round_to: int | None, cap: int):
    """A shard's top-k emission → (ids, raw scores). It must use the SAME
    ordering as the global merge: (rounded score desc, docid asc). Every
    doc whose rounded score ties the k-th largest rounded value is kept —
    rounding is monotone, so docs below that bar can never enter the
    global top-k — and at most ``cap`` are emitted."""
    rounded = np.round(scores, round_to) if round_to is not None else scores
    if len(ids) > k:
        sel = rounded >= np.partition(rounded, -k)[-k]
        ids, scores, rounded = ids[sel], scores[sel], rounded[sel]
    order = np.lexsort((ids, -rounded))[:cap]
    return ids[order], scores[order]
