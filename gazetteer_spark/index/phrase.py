"""Index-backed phrase (adjacent-token) and NEAR/k proximity matching over
layout-v2 segments.

The reference treats containment/phrase matching as a first-class query
primitive (`addresses/impl/NamesMatcherImpl.java:38-46` — token-sequence
containment between names); round-1 served it by re-tokenizing the whole
corpus per phrase. This module serves it from the POSITIONS stream with
BLOCK-SELECTIVE decode:

1. intersect the phrase terms' docid sets RAREST-FIRST: the rarest term is
   decoded fully, every other term decodes only the posting blocks whose
   block-max docid range can contain surviving candidates (the same skip
   machinery WAND uses for scores, applied to conjunction);
2. for the final candidates, decode positions ONLY for those blocks
   (the positions blob embeds per-block byte offsets — codec layout);
3. each term's occurrences become (rank of doc among the candidates,
   position) arrays, and the positional kernel (``positional.py``, the
   one home of the packed-key math) matches phrase, NEAR and NEAR/n on
   them.

A phrase containing "the" therefore touches ~|candidates|/128-rounded
blocks of "the"'s postings and positions, not its full df.

Scale shape: identical to WAND — the segment scan prunes by parquet
min/max on term + the ``kind`` dictionary filter; the only shuffle is the
(docid, count) union. No full-corpus rescan, no driver-side data.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import get_analyzer
from ..session import local_frame
from .codec import (
    DelIndex,
    decode_block_meta,
    decode_blocks,
    decode_positions_blocks,
    decode_postings,
    gather_runs,
)
from .positional import near_n_slots, near_slots, phrase_slots
from .scoring import bm25_contrib, bm25_norm, idf, local_topk

_EMPTY = (
    np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0, np.int64)
)


class _Seg:
    """One committed generation of one term's postings in this shard."""

    __slots__ = ("pbuf", "posbuf", "blast", "bends", "gen")


def _term_handles(pdf: pd.DataFrame):
    """→ ({term: [segment handles]}, {term: total df}) — metadata only,
    no posting bytes decoded."""
    per_term: dict[str, list[_Seg]] = {}
    df_tot: dict[str, int] = {}
    gens = pdf["gen"] if "gen" in pdf.columns else None
    for r in pdf[pdf["kind"] == "post"].itertuples():
        s = _Seg()
        s.pbuf, s.posbuf = r.postings, r.positions
        s.gen = int(r.gen) if gens is not None else 0
        s.blast, _, _, s.bends = decode_block_meta(r.blockmeta)
        per_term.setdefault(r.term, []).append(s)
        df_tot[r.term] = df_tot.get(r.term, 0) + int(r.df)
    return per_term, df_tot


def _blocks_holding(seg: _Seg, cand: np.ndarray) -> np.ndarray:
    """Sorted unique block indexes whose docid range may contain ``cand``."""
    bi = np.searchsorted(seg.blast, cand, side="left")
    return np.unique(bi[bi < len(seg.blast)])


def _intersect_candidates(
    per_term: dict[str, list[_Seg]], order: list[str],
    dels: DelIndex | None = None,
) -> np.ndarray:
    """Conjunctive docid intersection, rarest term first; later terms decode
    only blocks that can still hold survivors. Tombstones are applied PER
    SEGMENT GENERATION (a del masks only older generations), so a docid
    deleted and later re-added intersects through its new generation's
    postings only — and the per-generation parts stay docid-disjoint."""
    cand: np.ndarray | None = None
    for t in order:
        parts = []
        for s in per_term[t]:
            if cand is None:
                ids = decode_postings(s.pbuf)[0]
            else:
                bi = _blocks_holding(s, cand)
                if len(bi) == 0:
                    continue
                ids = decode_blocks(s.pbuf, s.bends, bi)[0]
            if dels:
                ids = ids[dels.keep_mask(s.gen, ids)]
            parts.append(ids)
        ids = np.concatenate(parts) if parts else np.zeros(0, np.int64)
        cand = ids if cand is None else np.intersect1d(cand, ids, assume_unique=True)
        if len(cand) == 0:
            return cand
    return np.sort(cand)


def _term_positions(segs: list[_Seg], cand: np.ndarray,
                    dels: DelIndex | None = None):
    """(ids, tfs, flat positions) for one term, restricted to blocks holding
    ``cand``, merged across generations into docid order. Tombstoned
    postings (per-generation mask) are dropped so a re-added docid never
    sees its dead predecessor's positions."""
    per = []
    for s in segs:
        bi = _blocks_holding(s, cand)
        if len(bi) == 0:
            continue
        ids, tfs = decode_blocks(s.pbuf, s.bends, bi)
        flat = decode_positions_blocks(s.posbuf, bi, tfs)
        if dels:
            keep = dels.keep_mask(s.gen, ids)
            if not keep.all():
                flat = flat[np.repeat(keep, tfs)]
                ids, tfs = ids[keep], tfs[keep]
        if len(ids) == 0:
            continue
        per.append((ids, tfs.astype(np.int64), flat))
    if not per:
        return _EMPTY
    ids = np.concatenate([p[0] for p in per])
    tfs = np.concatenate([p[1] for p in per])
    flat = np.concatenate([p[2] for p in per])
    if len(per) > 1:  # generations' docid sets are disjoint
        order = np.argsort(ids, kind="stable")
        flat = gather_runs(flat, tfs, order)
        ids, tfs = ids[order], tfs[order]
    return ids, tfs, flat


def _candidate_slots(pdf: pd.DataFrame, terms: list[str]):
    """One shard's (common, slots): ``common`` the sorted docids holding
    every term (rarest-first block-selective intersection), ``slots[i]``
    the (ranks into ``common``, positions) of ``terms[i]``'s occurrences
    in them. None when a term is absent or no doc holds them all."""
    per_term, df_tot = _term_handles(pdf)
    distinct = sorted(set(terms))
    if any(t not in per_term for t in distinct):
        return None  # conjunctive: a missing term empties this shard
    dels = DelIndex.from_pdf(pdf)
    order = sorted(distinct, key=lambda t: (df_tot[t], t))
    common = _intersect_candidates(per_term, order, dels)
    if len(common) == 0:
        return None
    occ = {}
    for t in distinct:
        ids, tfs, flat = _term_positions(per_term[t], common, dels)
        idx = np.searchsorted(common, ids)
        keep = (idx < len(common)) & (
            common[np.minimum(idx, len(common) - 1)] == ids)
        occ[t] = np.repeat(idx[keep], tfs[keep]), flat[np.repeat(keep, tfs)]
    return common, [occ[t] for t in terms]


def _match_shard(pdf: pd.DataFrame, terms: list[str], match,
                 col: str) -> pd.DataFrame:
    """One shard's relevant segment rows → (docid, ``col``) counts."""
    got = _candidate_slots(pdf, terms)
    if got is None:
        return _empty_frame(f"docid long, {col} long")
    common, slots = got
    ranks, counts = match(slots)
    return pd.DataFrame({"docid": common[ranks].astype(np.int64), col: counts})


def _phrase_shard(pdf: pd.DataFrame, terms: list[str]) -> pd.DataFrame:
    """One shard → (docid, n_occurrences)."""
    return _match_shard(pdf, terms, phrase_slots, "n_occurrences")


def _near_shard(pdf: pd.DataFrame, term_a: str, term_b: str, k: int) -> pd.DataFrame:
    """One shard → (docid, n_pairs): occurrence pairs of (term_a, term_b)
    within token distance ≤ k."""
    return _match_shard(pdf, [term_a, term_b], near_slots(k), "n_pairs")


def _near_n_shard(
    pdf: pd.DataFrame, terms: list[str], k: int, ordered: bool
) -> pd.DataFrame:
    """One shard → (docid, n_anchors): N-term proximity (unordered: every
    other term within ≤ k of an anchor occurrence of terms[0]; ordered: a
    strictly increasing chain through the terms, each gap ≤ k)."""
    return _match_shard(pdf, terms, near_n_slots(k, ordered), "n_anchors")


def _phrase_scored_shard(
    pdf: pd.DataFrame, terms: list[str],
    qweights: dict[str, float], avgdl: float,
    k: int, round_to: int | None, cap: int,
) -> pd.DataFrame:
    """One shard → phrase-matching docs scored by BM25 over the phrase's
    distinct terms, with per-shard emission using the engine's
    rounded-bar + (score desc, docid asc) pinning — the same contract as
    wand._score_shard. A term's tf in a matched doc is its occurrence
    count there, taken from the match's own decode (one position decode
    per distinct term); doclens come from the shard's doc tables."""
    from .wand import _doc_meta

    got = _candidate_slots(pdf, terms)
    if got is None:
        return _empty_frame("docid long, score double")
    common, slots = got
    hits, _ = phrase_slots(slots)
    if len(hits) == 0:
        return _empty_frame("docid long, score double")
    cand = common[hits].astype(np.int64)
    all_ids, all_lens = _doc_meta(pdf[pdf["kind"] == "docs"])
    dl = all_lens[np.searchsorted(all_ids, cand)].astype(np.float64)
    norm = bm25_norm(dl, avgdl)
    scores = np.zeros(len(cand))
    for t in sorted(set(terms)):
        ranks = slots[terms.index(t)][0]
        tfs = np.bincount(ranks, minlength=len(common))[hits]
        scores += bm25_contrib(qweights[t], tfs, norm)
    ids_e, raw_e = local_topk(cand, scores, k, round_to, cap)
    return pd.DataFrame({"docid": ids_e, "score": raw_e})


_DTYPES = {"int": "int32", "long": "int64", "double": "float64"}


def _empty_frame(schema: str) -> pd.DataFrame:
    """A zero-row pandas frame typed by a DDL schema of int/long/double."""
    return pd.DataFrame({
        name: pd.Series([], dtype=_DTYPES[typ])
        for name, typ in (c.split() for c in schema.split(","))})


def _emission_frame(
    emitted: list[tuple[int, np.ndarray, np.ndarray]],
) -> pd.DataFrame:
    """(query_id int, docid long, score double): a shard's per-query
    top-k' emissions ``[(query_id, docids, raw scores)]`` stacked in
    order — the frame every doc-sharded MaxScore scorer returns."""
    if not emitted:
        return _empty_frame("query_id int, docid long, score double")
    qids, ids, raw = zip(*emitted)
    return pd.DataFrame({
        "query_id": np.repeat(np.array(qids, np.int32),
                              [len(i) for i in ids]),
        "docid": np.concatenate(ids).astype(np.int64),
        "score": np.concatenate(raw).astype(np.float64),
    })


def _per_query_shards(rows: DataFrame, plans: list[tuple[int, object]],
                      one, schema: str) -> DataFrame:
    """(query_id, *``schema``): every plan's ``one(shard_pdf, plan)``
    frame, tagged with its query_id — N queries in ONE job over ``rows``
    grouped by shard."""
    def shard_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for qid, plan in plans:
            out = one(pdf, plan)
            if not out.empty:
                out.insert(0, "query_id", np.int32(qid))
                frames.append(out)
        return (pd.concat(frames, ignore_index=True) if frames
                else _empty_frame(f"query_id int, {schema}"))

    return rows.groupBy("shard").applyInPandas(
        shard_fn, f"query_id int, {schema}")


def _positional_segments(spark: SparkSession, index_dir: str):
    """(build params, committed segment rows) — one build.json read."""
    from .spimi import committed_segments

    with open(f"{index_dir}/build.json") as f:
        params = json.load(f)
    if not params.get("positions"):
        raise ValueError(
            "index was built without positions (layout v1); "
            "rebuild with build_index(..., positions=True) for "
            "phrase/proximity queries"
        )
    return params, committed_segments(spark, index_dir)


def _relevant_rows(seg: DataFrame, terms: list[str]) -> DataFrame:
    return seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(sorted(set(terms))))
        | (F.col("kind") == "dels")
    )


def _tokenizer(params: dict):
    """The analyzer of a build.json or layout.json ``params``."""
    return get_analyzer(params.get("analyzer", "default")).py_tokenize


# query plans shared with termindex's layout twins: (query_id, analyzed
# terms in slot order)
def _phrase_plans(tokenize, queries: list[tuple[int, str]]):
    plans = [(int(qid), tokenize(text)) for qid, text in queries]
    if any(not ts for _, ts in plans):
        raise ValueError("empty phrase after analysis")
    return plans


def _near_n_plans(tokenize, queries: list[tuple[int, list[str]]]):
    plans = []
    for qid, terms in queries:
        analyzed = [t for term in terms for t in tokenize(term)]
        if len(analyzed) < 2:
            raise ValueError(
                f"NEAR/n needs at least two analyzed terms (query {qid})")
        plans.append((int(qid), analyzed))
    return plans


def _near_pair(tokenize, term_a: str, term_b: str) -> list[str]:
    ta, tb = (tokenize(term_a) or [""])[0], (tokenize(term_b) or [""])[0]
    if not ta or not tb or ta == tb:
        raise ValueError("NEAR needs two distinct non-empty analyzed terms")
    return [ta, tb]


def _all_terms(plans) -> list[str]:
    return sorted({t for _, ts in plans for t in ts})


def phrase_match(
    spark: SparkSession, index_dir: str, phrase: str
) -> DataFrame:
    """(docid, n_occurrences): documents containing the exact token phrase,
    with occurrence counts — served entirely from the positional index
    (the one-query form of :func:`phrase_match_batch`)."""
    return phrase_match_batch(spark, index_dir, [(0, phrase)]).drop("query_id")


def near_match(
    spark: SparkSession, index_dir: str, term_a: str, term_b: str, k: int = 3
) -> DataFrame:
    """(docid, n_pairs): documents where analyzed terms a and b co-occur
    within token distance ≤ k, with the pair count — a proximity (NEAR/k)
    query served from the positional index. Same scan shape as
    :func:`phrase_match`."""
    params, seg = _positional_segments(spark, index_dir)
    ta, tb = _near_pair(_tokenizer(params), term_a, term_b)
    return _relevant_rows(seg, [ta, tb]).groupBy("shard").applyInPandas(
        lambda pdf: _near_shard(pdf, ta, tb, k),
        "docid long, n_pairs long",
    )


def near_match_n(
    spark: SparkSession, index_dir: str, terms: list[str], k: int = 3,
    ordered: bool = False,
) -> DataFrame:
    """(docid, n_anchors): generalized N-term proximity from the positional
    index. Unordered: anchors (occurrences of terms[0]) with every other
    term within token distance ≤ k. Ordered: anchors starting a strictly-
    increasing chain through the terms with each gap ≤ k. The one-query
    form of :func:`near_match_n_batch`."""
    return near_match_n_batch(spark, index_dir, [(0, terms)], k=k,
                              ordered=ordered).drop("query_id")


def phrase_match_batch(
    spark: SparkSession, index_dir: str, queries: list[tuple[int, str]]
) -> DataFrame:
    """(query_id, docid, n_occurrences): N phrase queries in ONE Spark job —
    one segment scan pruned to the UNION of all queries' terms, one shuffle.
    At serving scale the per-job scheduling cost (~0.5 s locally) dominates
    single phrase queries; batching amortizes it exactly like wand's
    topk_batch."""
    params, seg = _positional_segments(spark, index_dir)
    plans = _phrase_plans(_tokenizer(params), queries)
    return _per_query_shards(_relevant_rows(seg, _all_terms(plans)), plans,
                             _phrase_shard, "docid long, n_occurrences long")


def near_match_n_batch(
    spark: SparkSession, index_dir: str,
    queries: list[tuple[int, list[str]]], k: int = 3, ordered: bool = False,
) -> DataFrame:
    """(query_id, docid, n_anchors): N proximity queries in one job (same
    batching contract as :func:`phrase_match_batch`)."""
    params, seg = _positional_segments(spark, index_dir)
    plans = _near_n_plans(_tokenizer(params), queries)
    return _per_query_shards(
        _relevant_rows(seg, _all_terms(plans)), plans,
        lambda pdf, ts: _near_n_shard(pdf, ts, k, ordered),
        "docid long, n_anchors long")


def phrase_topk_batch(
    spark: SparkSession, index_dir: str, queries: list[tuple[int, str]],
    k: int = 10, round_to: int | None = 4, tie_cap: int = 4096,
) -> DataFrame:
    """(query_id, rank, docid, score): N RANKED phrase queries in one
    scoring job + one top-k window. Documents containing the exact token
    phrase, ordered by BM25 over the phrase's terms with the engine's
    (score desc, docid asc) pinning. The reference ranks its containment
    matches inside the candidate ladder (J7, `PoiAddrJoinBuilder.java:67-
    189`); this is that composition served from the positional index:
    phrase candidates and their tfs come from the same block-selective
    decode, doclens from the shard's docmeta, df/avgdl from the committed
    stats."""
    from ..bm25 import rank_topk
    from .spimi import load_stats, load_termstats
    from .wand import _lookup_dfs

    params, seg = _positional_segments(spark, index_dir)
    stats = load_stats(index_dir)
    plans = _phrase_plans(_tokenizer(params), queries)
    all_terms = _all_terms(plans)
    termstats = load_termstats(spark, index_dir)
    df_by_term = _lookup_dfs(termstats, all_terms)
    qweights = {t: idf(stats["n_docs"], df_by_term[t])
                for t in all_terms if t in df_by_term}
    # a phrase with an unindexed term matches nothing (conjunctive)
    live = [(qid, ts) for qid, ts in plans
            if all(t in df_by_term for t in ts)]
    if not live:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double")
    relevant = seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(all_terms))
        | (F.col("kind") == "docs")
        | (F.col("kind") == "dels")
    )
    local = _per_query_shards(
        relevant, live,
        lambda pdf, ts: _phrase_scored_shard(
            pdf, ts, qweights, stats["avgdl"], k, round_to, tie_cap),
        "docid long, score double")
    return rank_topk(local, k, round_to)


def phrase_topk(
    spark: SparkSession, index_dir: str, phrase: str, k: int = 10,
    round_to: int | None = 4, tie_cap: int = 4096,
) -> DataFrame:
    """(rank, docid, score): one RANKED phrase — the one-query form of
    :func:`phrase_topk_batch`."""
    return phrase_topk_batch(spark, index_dir, [(0, phrase)], k=k,
                             round_to=round_to,
                             tie_cap=tie_cap).drop("query_id")
