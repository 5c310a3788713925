"""Positional kernel (gazetteer_spark/index/positional.py) against
brute-force pure-Python references over token sequences, plus the guard
that keeps packed-key arithmetic inside the kernel. Spark-free."""

from __future__ import annotations

import ast
import pathlib
import random

import numpy as np
import pytest

from gazetteer_spark.index.codec import MAXPOS
from gazetteer_spark.index.positional import (
    near_anchors,
    near_n_slots,
    near_pairs,
    near_slots,
    packed_keys,
    phrase_hits,
    phrase_slots,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "gazetteer_spark"
VOCAB = "abcd"


# ---------------------------------------------------------------------------
# brute-force references: docs are {position: token}, one dict per doc rank
# ---------------------------------------------------------------------------

def _occ(docs, term):
    """(ranks, positions) of ``term`` in rank order — a caller's decode."""
    pairs = [(r, p) for r, d in enumerate(docs)
             for p, t in sorted(d.items()) if t == term]
    return (np.array([r for r, _ in pairs], np.int64),
            np.array([p for _, p in pairs], np.int64))


def _keys(docs, term, shift=0):
    return packed_keys(*_occ(docs, term), shift)


def _counts(ranks, counts):
    assert ranks.dtype == np.int64 and counts.dtype == np.int64
    assert list(ranks) == sorted(set(ranks.tolist()))
    assert (counts > 0).all()
    return dict(zip(ranks.tolist(), counts.tolist()))


def _ref(docs, count_one):
    got = {r: count_one(d) for r, d in enumerate(docs)}
    return {r: c for r, c in got.items() if c}


def ref_phrase(docs, terms):
    return _ref(docs, lambda d: sum(
        all(d.get(p + i) == t for i, t in enumerate(terms)) for p in d))


def ref_pairs(docs, a, b, k):
    return _ref(docs, lambda d: sum(
        1 for i, ti in d.items() for j, tj in d.items()
        if ti == a and tj == b and abs(i - j) <= k))


def ref_anchors(docs, terms, k, ordered):
    def reach(d, p, rest):  # a chain p < p2 < … through ``rest``
        return not rest or any(
            q > p and q - p <= k and reach(d, q, rest[1:])
            for q, t in d.items() if t == rest[0])

    def count_one(d):
        anchors = [p for p, t in d.items() if t == terms[0]]
        if ordered:
            return sum(reach(d, p, terms[1:]) for p in anchors)
        return sum(all(any(t == o and abs(q - p) <= k
                           for q, t in d.items()) for o in terms[1:])
                   for p in anchors)
    return _ref(docs, count_one)


def _random_docs(rng, n_docs, at_end):
    """Seeded random docs of 0–25 tokens over a 4-letter vocabulary; with
    ``at_end`` each doc's positions end at MAXPOS - 1."""
    docs = []
    for _ in range(n_docs):
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(0, 25))]
        off = MAXPOS - len(toks) if at_end else 0
        docs.append({off + i: t for i, t in enumerate(toks)})
    return docs


def _phrase(docs, terms):
    return _counts(*phrase_hits(
        [_keys(docs, t, s) for s, t in enumerate(terms)]))


def _pairs(docs, a, b, k):
    return _counts(*near_pairs(_keys(docs, a), _keys(docs, b), k))


def _anchors(docs, terms, k, ordered):
    return _counts(*near_anchors([_keys(docs, t) for t in terms], k,
                                 ordered))


# ---------------------------------------------------------------------------
# random docs against the references
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("at_end", [False, True])
def test_kernel_matches_bruteforce(seed, at_end):
    """Each kernel function, and the slot matcher the front ends call it
    through, equals the brute-force reference."""
    rng = random.Random(seed)
    docs = _random_docs(rng, 30, at_end)

    def slots(terms):
        return [_occ(docs, t) for t in terms]
    for _ in range(12):
        terms = [rng.choice(VOCAB) for _ in range(rng.randint(1, 4))]
        want = ref_phrase(docs, terms)
        assert _phrase(docs, terms) == want, terms
        assert _counts(*phrase_slots(slots(terms))) == want, terms
        a, b = rng.sample(VOCAB, 2)
        k = rng.randint(0, 4)
        want = ref_pairs(docs, a, b, k)
        assert _pairs(docs, a, b, k) == want, (a, b, k)
        assert _counts(*near_slots(k)(slots([a, b]))) == want, (a, b, k)
        roles = [rng.choice(VOCAB) for _ in range(rng.randint(2, 4))]
        for ordered in (False, True):
            want = ref_anchors(docs, roles, k, ordered)
            assert _anchors(docs, roles, k, ordered) == want, (roles, k)
            assert (_counts(*near_n_slots(k, ordered)(slots(roles)))
                    == want), (roles, k)


# ---------------------------------------------------------------------------
# edges
# ---------------------------------------------------------------------------

def test_packed_keys_sorted_and_shift_drops_negatives():
    """A position below the slot shift is dropped, never packed into the
    previous doc's key range (rank 1, pos 0, shift 1 ≠ rank 0's MAXPOS-1)."""
    ranks = np.array([1, 0, 1, 0], np.int64)
    pos = np.array([0, 0, 7, MAXPOS - 1], np.int64)
    assert packed_keys(ranks, pos).tolist() == [
        0, MAXPOS - 1, MAXPOS, MAXPOS + 7]
    assert packed_keys(ranks, pos, 1).tolist() == [MAXPOS - 2, MAXPOS + 6]
    assert packed_keys(np.zeros(0, np.int64), np.zeros(0, np.int64),
                       2).tolist() == []


def test_windows_never_cross_a_doc_boundary():
    """Tokens adjacent across a doc boundary, at the lowest rank's start
    and the highest rank's end: no phrase, pair or anchor spans docs."""
    docs = [{0: "a", MAXPOS - 1: "b"},
            {0: "a", MAXPOS - 1: "b"},
            {0: "a", MAXPOS - 1: "b"}]
    assert _phrase(docs, ["b", "a"]) == {}
    assert _pairs(docs, "b", "a", 3) == {}
    assert _pairs(docs, "a", "b", 3) == {}
    for ordered in (False, True):
        assert _anchors(docs, ["b", "a"], 3, ordered) == {}
        assert _anchors(docs, ["a", "b"], 3, ordered) == {}
    # the same adjacency inside one doc, at both ends of the position range
    docs = [{0: "b", 1: "a"}, {MAXPOS - 2: "b", MAXPOS - 1: "a"}]
    assert _phrase(docs, ["b", "a"]) == {0: 1, 1: 1}
    assert _pairs(docs, "a", "b", 1) == {0: 1, 1: 1}
    assert _anchors(docs, ["b", "a"], 1, True) == {0: 1, 1: 1}


def test_k_zero():
    docs = [{0: "a", 1: "b", 2: "a"}]
    assert _pairs(docs, "a", "b", 0) == {}
    assert _anchors(docs, ["a", "b"], 0, False) == {}
    assert _anchors(docs, ["a", "b"], 0, True) == {}
    # unordered k=0 admits the anchor itself when a role repeats its term
    assert _anchors(docs, ["a", "a"], 0, False) == {0: 2}
    assert _anchors(docs, ["a", "a"], 0, True) == {}


def test_phrase_repeating_a_term():
    docs = [{0: "a", 1: "b", 2: "a", 3: "b", 4: "a"}, {0: "a", 1: "b"}]
    assert _phrase(docs, ["a", "b", "a"]) == {0: 2}
    assert ref_phrase(docs, ["a", "b", "a"]) == {0: 2}


def test_ordered_chain_needs_strictly_increasing_positions():
    """Equal positions never chain: role keys that share a position (an
    anchor against itself, or two roles at one position) do not match."""
    one = packed_keys(np.array([0], np.int64), np.array([5], np.int64))
    assert _counts(*near_anchors([one, one], 3, True)) == {}
    assert _counts(*near_anchors([one, one], 3, False)) == {0: 1}
    two = packed_keys(np.array([0, 0], np.int64), np.array([5, 6], np.int64))
    assert _counts(*near_anchors([one, two], 3, True)) == {0: 1}
    assert _counts(*near_anchors([two, one], 3, True)) == {}


def test_empty_roles():
    docs = [{0: "a", 1: "b"}]
    empty = np.zeros(0, np.int64)
    a = _keys(docs, "a")
    assert _counts(*phrase_hits([a, empty])) == {}
    assert _counts(*phrase_hits([empty, a])) == {}
    assert _counts(*near_pairs(a, empty, 3)) == {}
    assert _counts(*near_pairs(empty, a, 3)) == {}
    for ordered in (False, True):
        assert _counts(*near_anchors([a, empty], 3, ordered)) == {}
        assert _counts(*near_anchors([empty, a], 3, ordered)) == {}
        assert _counts(*near_anchors([a, empty, a], 3, ordered)) == {}


# ---------------------------------------------------------------------------
# guard: packed-key arithmetic lives only in the kernel (and the codec's
# encode-time bound check)
# ---------------------------------------------------------------------------

MAXPOS_ARITHMETIC_ALLOWED = {"index/positional.py", "index/codec.py"}


def _maxpos_arithmetic(tree):
    """Line numbers of every arithmetic node that reads MAXPOS."""
    def reads_maxpos(node):
        return any((isinstance(n, ast.Name) and n.id == "MAXPOS")
                   or (isinstance(n, ast.Attribute) and n.attr == "MAXPOS")
                   for n in ast.walk(node))
    return [n.lineno for n in ast.walk(tree)
            if isinstance(n, (ast.BinOp, ast.AugAssign)) and reads_maxpos(n)]


def test_maxpos_arithmetic_only_in_kernel():
    """Every packed-key computation goes through index/positional.py: a
    BinOp on MAXPOS anywhere else in the package would bring back a copy
    of the phrase/NEAR math."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in MAXPOS_ARITHMETIC_ALLOWED:
            continue
        offenders += [f"{rel}:{line}" for line in _maxpos_arithmetic(
            ast.parse(path.read_text(), filename=rel))]
    assert not offenders, offenders
    # the guard sees the kernel's own arithmetic
    kernel = (PKG / "index" / "positional.py").read_text()
    assert _maxpos_arithmetic(ast.parse(kernel))
