"""The positional kernel: phrase, NEAR and NEAR/n matching over packed
position keys, pure numpy.

Every phrase and proximity front end (doc-sharded ``phrase.py``, the
fielded composite-term paths in ``fielded.py`` and the term-layout verify
in ``termindex.py``) turns its decoded postings into per-term
``(rank, pos)`` arrays, where ``rank`` is the doc's index in a sorted
docid array the caller holds, and calls the functions here. A key packs
one occurrence as ``rank * MAXPOS + pos``; positions stay below ``MAXPOS``
(checked at encode time in ``codec``), so keys of different docs never
collide and a window clamped to ``[rank * MAXPOS, rank * MAXPOS + MAXPOS
- 1]`` never reaches into a neighbouring doc.

Each matcher returns ``(doc_rank, count)``: the sorted ranks of the
matching docs and, per doc, the number of phrase occurrences, NEAR pairs
or NEAR/n anchors.
"""

from __future__ import annotations

import numpy as np

from .codec import MAXPOS

_NONE = (np.zeros(0, np.int64), np.zeros(0, np.int64))


def packed_keys(ranks: np.ndarray, pos: np.ndarray,
                shift: int = 0) -> np.ndarray:
    """Sorted int64 keys ``rank * MAXPOS + (pos - shift)``; occurrences
    whose shifted position is negative are dropped (a phrase slot ``s``
    cannot start before position ``s``)."""
    shifted = np.asarray(pos, np.int64) - shift
    ok = shifted >= 0
    return np.sort(np.asarray(ranks, np.int64)[ok] * MAXPOS + shifted[ok],
                   kind="stable")


def _per_doc(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ranks, counts = np.unique(keys // MAXPOS, return_counts=True)
    return ranks, counts.astype(np.int64)


def _in_window(keys: np.ndarray, lo: np.ndarray, hi: np.ndarray,
               rank: np.ndarray) -> np.ndarray:
    """Per window, how many sorted ``keys`` fall in ``[lo, hi]`` once the
    window is clamped to its doc's key range."""
    base = rank * MAXPOS
    lo = np.maximum(lo, base)
    hi = np.minimum(hi, base + MAXPOS - 1)
    return (np.searchsorted(keys, hi, side="right")
            - np.searchsorted(keys, lo, side="left"))


def phrase_hits(keys_by_slot: list[np.ndarray]
                ) -> tuple[np.ndarray, np.ndarray]:
    """Phrase occurrences: ``keys_by_slot[i]`` holds slot ``i``'s term
    occurrences packed with ``shift=i``, so a phrase start is a key that
    every slot holds."""
    matched = keys_by_slot[0]
    for keys in keys_by_slot[1:]:
        if len(matched) == 0:
            break
        matched = np.intersect1d(matched, keys, assume_unique=True)
    return _per_doc(matched)


def near_pairs(keys_a: np.ndarray, keys_b: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """NEAR/k pairs: per doc, the (a, b) occurrence pairs within token
    distance ≤ k (``keys_b`` sorted)."""
    rank_a = keys_a // MAXPOS
    hits = _in_window(keys_b, keys_a - k, keys_a + k, rank_a)
    per_doc = np.bincount(rank_a, weights=hits)
    nz = np.flatnonzero(per_doc)
    return nz, per_doc[nz].astype(np.int64)


def near_anchors(keys_by_role: list[np.ndarray], k: int,
                 ordered: bool) -> tuple[np.ndarray, np.ndarray]:
    """NEAR/n anchors, each role's keys sorted. Unordered: occurrences of
    role 0 with an occurrence of EVERY other role within distance ≤ k.
    Ordered: occurrences p₁ of role 0 starting a chain p₁ < p₂ < … < p_N
    through the roles in order with every gap ≤ k, found by backward
    reachability (keep role i's occurrences with a reachable role i+1
    occurrence in (p, p + k])."""
    if ordered:
        good = keys_by_role[-1]
        for cur in reversed(keys_by_role[:-1]):
            if len(good) == 0:
                return _NONE
            good = cur[_in_window(good, cur + 1, cur + k, cur // MAXPOS) > 0]
    else:
        good = keys_by_role[0]
        rank = good // MAXPOS
        for other in keys_by_role[1:]:
            ok = _in_window(other, good - k, good + k, rank) > 0
            good, rank = good[ok], rank[ok]
    return _per_doc(good)


# slot matchers: per-slot (ranks, positions) arrays, in query-term order,
# → (doc_rank, count); every phrase/NEAR front end passes its decode here
def phrase_slots(slots):
    """Phrase occurrences: slot ``i`` packs with ``shift=i``."""
    return phrase_hits([packed_keys(r, p, s)
                        for s, (r, p) in enumerate(slots)])


def near_slots(k: int):
    """The matcher of NEAR/k pairs between slots 0 and 1."""
    return lambda slots: near_pairs(packed_keys(*slots[0]),
                                    packed_keys(*slots[1]), k)


def near_n_slots(k: int, ordered: bool):
    """The matcher of NEAR/n anchors, one role per slot."""
    return lambda slots: near_anchors(
        [packed_keys(r, p) for r, p in slots], k, ordered)
