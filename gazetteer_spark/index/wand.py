"""Block-max top-k query execution over doc-sharded segments.

The candidate-then-verify shape is the reference's envelope-query-then-exact
-predicate pattern (`join/JoinSliceRunable.many2ManyJoin:1071-1087`, buffered
covers test `JoinBoundariesExecutor.java:323-348`): a cheap upper bound
prunes, exact BM25 scores the survivors.

Algorithm per (shard, query): vectorized term-at-a-time MaxScore with
block-max skipping —

1. terms sorted by upper bound ``ub_t = idf_t * max_b tfnorm(max_tf_b,
   min_dl_b)`` descending — the bound is evaluated with the exact scoring
   float ops, so it can never under-estimate;
2. while the remaining-ub suffix can still beat the running threshold θ
   (k-th best partial score, minus a two-rounding-ulp tie margin), a term
   may introduce new candidate docs (full-list decode);
3. once it can't, the term runs update-only: candidates that cannot reach
   θ even granted their OWN block's upper bound plus all remaining terms'
   bounds are dropped, then ONLY blocks still holding surviving candidates
   are decoded (`codec.decode_blocks`) — posting bytes for skipped blocks
   are never touched;
4. after each term, candidates with partial + remaining-ub < θ - margin
   are pruned; survivors end with exact scores by construction;
5. emission uses the SAME ordering as the global merge: every doc whose
   ROUNDED score ties the k-th largest rounded value is emitted (rounding
   is monotone, so docs below that bar can never enter the global top-k).

Global result = union of per-shard emissions → window (score desc, docid
asc). Docs live in exactly one shard, so the merge is exact; committed
generations of a term's postings are merged per shard before scoring.

Scale notes: the segment scan prunes by parquet min/max on ``term`` and by
the ``kind`` dictionary filter; the only shuffle is the per-shard top-k'
union (≤ shards × queries × k' rows). The driver never sees posting lists.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import get_analyzer
from ..bm25 import rank_topk
from ..session import local_frame
from .codec import (
    DelIndex,
    decode_block_meta,
    decode_blocks,
    decode_postings,
    decode_postings_grouped,
)
from .phrase import _emission_frame
from .scoring import (
    bm25_contrib,
    bm25_norm,
    idf,
    local_topk,
    rank_margin,
)
from .spimi import load_stats, load_termstats, termstats_dir


def _doc_meta(docs_rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Merge per-generation doc tables → (docids sorted, doclens). A docid
    re-added after a tombstone appears once per generation; the NEWEST
    generation's doclen wins (generation-ordered latest-wins, the
    reference's `sortupdate/SortAndUpdateTask.java:36-85` semantics)."""
    ordered = (docs_rows.sort_values("gen") if "gen" in docs_rows.columns
               else docs_rows)
    all_ids, all_lens, _ = decode_postings_grouped(ordered["postings"].tolist())
    all_lens = all_lens.astype(np.int64)
    if len(ordered) > 1:
        order = np.argsort(all_ids, kind="stable")
        all_ids, all_lens = all_ids[order], all_lens[order]
        keep = np.ones(len(all_ids), dtype=bool)  # last of each run = newest
        keep[:-1] = all_ids[1:] != all_ids[:-1]
        all_ids, all_lens = all_ids[keep], all_lens[keep]
    return all_ids, all_lens


def _score_shard(
    pdf: pd.DataFrame,
    qplans: list[tuple[int, list[tuple[str, float]]]],
    avgdl: float,
    k: int,
    round_to: int | None,
    cap: int,
) -> pd.DataFrame:
    """One shard's relevant segment rows → local top-k' per query."""
    # group rows by term — a term can have one row per committed generation.
    # Posting bytes stay ENCODED until a term actually needs them; per-block
    # upper bounds come from the metadata alone.
    has_gen = "gen" in pdf.columns
    post_rows: dict[str, list[tuple[bytes, bytes, int]]] = {}
    for r in pdf[pdf["kind"] == "post"].itertuples():
        post_rows.setdefault(r.term, []).append(
            (r.postings, r.blockmeta, int(r.gen) if has_gen else 0)
        )
    docs_rows = pdf[pdf["kind"] == "docs"]
    if docs_rows.empty or not post_rows:
        return _emission_frame([])
    all_ids, all_lens = _doc_meta(docs_rows)
    norm_by_doc = bm25_norm(all_lens.astype(np.float64), avgdl)

    # tombstones: GENERATION-ORDERED — a del masks only OLDER generations'
    # postings, so re-adds stay visible (Lucene-like otherwise: stats stay
    # as built until compaction)
    dels = DelIndex.from_pdf(pdf)

    def mask_deleted(ids: np.ndarray, tfs: np.ndarray, gen: int):
        if not dels or len(ids) == 0:
            return ids, tfs
        keep = dels.keep_mask(gen, ids)
        if keep.all():
            return ids, tfs
        return ids[keep], tfs[keep]

    # per-term segment handles: (pbuf, byte_ends, block_last, block_ub) per
    # generation + the term-level bound; block_ub is the idf-free
    # contribution at (max_tf, min_dl), evaluated by the scoring kernel
    class _Seg:
        __slots__ = ("pbuf", "bends", "blast", "bub", "gen")

    terms_meta: dict[str, tuple[list, float]] = {}
    for term, bufs in post_rows.items():
        segs, tmax = [], 0.0
        for pbuf, bbuf, gen in bufs:
            blast, bmax_tf, bmin_dl, bends = decode_block_meta(bbuf)
            s = _Seg()
            s.pbuf, s.bends, s.blast, s.gen = pbuf, bends, blast, gen
            if len(bmax_tf):
                s.bub = bm25_contrib(
                    1.0, bmax_tf, bm25_norm(bmin_dl.astype(np.float64), avgdl))
                tmax = max(tmax, float(s.bub.max()))
            else:
                s.bub = np.zeros(0)
            segs.append(s)
        terms_meta[term] = (segs, tmax)

    full_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def decode_full(term):
        if term not in full_cache:
            segs, _ = terms_meta[term]
            # mask per generation BEFORE merging: survivors stay disjoint
            # across generations even when a docid was deleted and re-added
            ps = [mask_deleted(*decode_postings(s.pbuf), s.gen) for s in segs]
            ids = np.concatenate([p[0] for p in ps])
            tfs = np.concatenate([p[1] for p in ps])
            if len(ps) > 1:
                order = np.argsort(ids, kind="stable")
                ids, tfs = ids[order], tfs[order]
            full_cache[term] = (ids, tfs)
        return full_cache[term]

    margin = rank_margin(round_to)

    emitted = []
    for qid, weighted_terms in qplans:
        terms = [(t, idf) for t, idf in weighted_terms if t in terms_meta]
        if not terms:
            continue
        # ub_t exact-safe: idf * max block tfnorm bound (includes the k1+1 factor)
        ubs = np.array([idf * terms_meta[t][1] for t, idf in terms], dtype=np.float64)
        order = np.argsort(-ubs, kind="stable")
        suffix = np.zeros(len(order) + 1)
        suffix[:-1] = np.cumsum(ubs[order][::-1])[::-1]

        cand_ids = np.zeros(0, dtype=np.int64)
        cand_scores = np.zeros(0, dtype=np.float64)
        theta = -np.inf
        for oi, ti in enumerate(order):
            term, idf = terms[ti]
            rem = suffix[oi + 1]
            can_introduce = not np.isfinite(theta) or (ubs[ti] + rem >= theta - margin)
            if can_introduce:
                ids, tfs = decode_full(term)
                pos = np.searchsorted(all_ids, ids)
                contrib = bm25_contrib(idf, tfs, norm_by_doc[pos])
                merged = np.union1d(cand_ids, ids)
                new_scores = np.zeros(len(merged))
                new_scores[np.searchsorted(merged, cand_ids)] = cand_scores
                new_scores[np.searchsorted(merged, ids)] += contrib
                cand_ids, cand_scores = merged, new_scores
            elif len(cand_ids):
                # update-only phase with BLOCK-MAX skipping: first drop
                # candidates that cannot reach θ even granted this term's
                # per-block bound plus all remaining terms' bounds; then
                # decode ONLY blocks holding surviving candidates.
                segs, _ = terms_meta[term]
                blk_ub = np.zeros(len(cand_ids))
                blk_of = []
                for s in segs:
                    bi = np.searchsorted(s.blast, cand_ids, side="left")
                    inside = bi < len(s.blast)
                    u = np.zeros(len(cand_ids))
                    u[inside] = s.bub[bi[inside]]
                    blk_ub = np.maximum(blk_ub, u)
                    blk_of.append((bi, inside))
                keep = cand_scores + idf * blk_ub + rem >= theta - margin
                cand_ids, cand_scores = cand_ids[keep], cand_scores[keep]
                if len(cand_ids) == 0:
                    continue
                for s, (bi, inside) in zip(segs, blk_of):
                    need = np.unique(bi[keep & inside]) if len(bi) else bi[:0]
                    if len(need) == 0:
                        continue
                    ids, tfs = mask_deleted(*decode_blocks(s.pbuf, s.bends, need), s.gen)
                    pos = np.searchsorted(all_ids, ids)
                    contrib = bm25_contrib(idf, tfs, norm_by_doc[pos])
                    hit = np.searchsorted(cand_ids, ids)
                    hit_ok = (hit < len(cand_ids)) & (
                        cand_ids[np.minimum(hit, len(cand_ids) - 1)] == ids
                    )
                    cand_scores[hit[hit_ok]] += contrib[hit_ok]
            # update θ (k-th best exact, only grows) and prune hopeless docs
            if len(cand_ids) >= k:
                theta = np.partition(cand_scores, -k)[-k]
                keep = cand_scores + rem >= theta - margin
                cand_ids, cand_scores = cand_ids[keep], cand_scores[keep]
        if len(cand_ids) == 0:
            continue
        emitted.append(
            (qid, *local_topk(cand_ids, cand_scores, k, round_to, cap)))
    return _emission_frame(emitted)


def _lookup_dfs(termstats: DataFrame, terms: list[str]) -> dict[str, int]:
    """df per term for the given (small) term list — one tiny filtered
    collect against the termstats table; absent terms are omitted."""
    rows = termstats.filter(F.col("term").isin(terms)).collect()
    return {r["term"]: r["df"] for r in rows}


def _lookup_dfs_path(index_dir: str, terms: list[str]) -> dict[str, int]:
    """df per term straight from the termstats parquet files — a
    DRIVER-side pyarrow dataset probe (no Spark job). termstats is
    written term-sorted within partitions, so parquet row-group min/max
    statistics prune the probe to a handful of row groups: dictionary
    lookups are metadata-scale work, the same single-node seek a Lucene
    term dictionary does. The warm path (IndexReader) keeps its pinned
    DataFrame probe instead."""
    import pyarrow.dataset as pads

    data = pads.dataset(termstats_dir(index_dir), format="parquet")
    t = data.to_table(
        columns=["term", "df"],
        filter=pads.field("term").isin(sorted(terms)),
    )
    return {term: int(d) for term, d in
            zip(t["term"].to_pylist(), t["df"].to_pylist())}


def _topk_impl(
    spark: SparkSession,
    seg: DataFrame,
    termstats: DataFrame | None,  # unused when df_by_term pre-resolved
    stats: dict,
    queries: list[tuple[int, str]],
    k: int,
    round_to: int | None,
    tie_cap: int,
    df_by_term: dict[str, int] | None = None,
) -> DataFrame:
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    # queries tokenize with the INDEX's analyzer (recorded at build time)
    tokenize = get_analyzer(stats.get("analyzer", "default")).py_tokenize
    qterms: dict[int, list[str]] = {
        qid: sorted(set(tokenize(text))) for qid, text in queries
    }
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        raise ValueError("no query terms")

    if df_by_term is None:
        df_by_term = _lookup_dfs(termstats, all_terms)
    qplans = [
        (qid, [(t, idf(n_docs, df_by_term[t])) for t in ts if t in df_by_term])
        for qid, ts in qterms.items()
    ]
    qplans = [(qid, ts) for qid, ts in qplans if ts]
    if not qplans:
        return local_frame(spark, [], "query_id int, rank int, docid long, score double")

    relevant = seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(all_terms))
        | (F.col("kind") == "docs")
        | (F.col("kind") == "dels")
    )
    local = relevant.groupBy("shard").applyInPandas(
        lambda pdf: _score_shard(pdf, qplans, avgdl, k, round_to, tie_cap),
        "query_id int, docid long, score double",
    )
    return rank_topk(local, k, round_to)


def topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    round_to: int | None = 4,
    tie_cap: int = 4096,
) -> DataFrame:
    """(query_id, rank, docid, score) — block-max top-k over the index."""
    from .spimi import committed_segments

    stats = load_stats(index_dir)
    tokenize = get_analyzer(stats.get("analyzer", "default")).py_tokenize
    terms = sorted({t for _, text in queries for t in tokenize(text)})
    return _topk_impl(
        spark,
        committed_segments(spark, index_dir),
        None,  # dfs always pre-resolved below — no termstats DataFrame
        stats,
        queries, k, round_to, tie_cap,
        # driver-side dictionary probe — no Spark job (see _lookup_dfs_path)
        df_by_term=_lookup_dfs_path(index_dir, terms) if terms else {},
    )


def _score_shard_and(
    pdf: pd.DataFrame,
    qplans: list[tuple[int, list[tuple[str, float]], int]],
    avgdl: float,
    k: int,
    round_to: int | None,
    cap: int,
) -> pd.DataFrame:
    """Conjunctive (AND) retrieval + exact BM25 over one shard: intersect
    the query terms' docid sets rarest-first with BLOCK-SELECTIVE decode
    (only blocks whose docid range can hold survivors are touched), then
    score exactly the candidates. qplans rows carry (query_id,
    [(term, idf)…] sorted by df asc, n_terms_required)."""
    from .phrase import _intersect_candidates, _term_handles

    per_term, _ = _term_handles(pdf)
    docs_rows = pdf[pdf["kind"] == "docs"]
    if docs_rows.empty:
        return _emission_frame([])
    all_ids, all_lens = _doc_meta(docs_rows)
    norm_by_doc = bm25_norm(all_lens.astype(np.float64), avgdl)
    dels = DelIndex.from_pdf(pdf)

    emitted = []
    for qid, weighted_terms, n_required in qplans:
        # conjunctive semantics: every analyzed term must exist in the
        # corpus AND in this shard's candidate docs
        if len(weighted_terms) < n_required or any(
            t not in per_term for t, _ in weighted_terms
        ):
            continue
        order_terms = [t for t, _ in weighted_terms]
        cand = _intersect_candidates(per_term, order_terms, dels)
        if len(cand) == 0:
            continue
        scores = np.zeros(len(cand))
        from .phrase import _blocks_holding

        for term, idf in weighted_terms:
            for s in per_term[term]:
                bi = _blocks_holding(s, cand)
                if len(bi) == 0:
                    continue
                ids, tfs = decode_blocks(s.pbuf, s.bends, bi)
                if dels:  # per-generation mask (re-add correctness)
                    keep = dels.keep_mask(s.gen, ids)
                    ids, tfs = ids[keep], tfs[keep]
                hit = np.searchsorted(cand, ids)
                ok = (hit < len(cand)) & (cand[np.minimum(hit, len(cand) - 1)] == ids)
                pos = np.searchsorted(all_ids, ids[ok])
                scores[hit[ok]] += bm25_contrib(idf, tfs[ok], norm_by_doc[pos])
        emitted.append((qid, *local_topk(cand, scores, k, round_to, cap)))
    return _emission_frame(emitted)


def topk_and(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    round_to: int | None = 4,
    tie_cap: int = 4096,
) -> DataFrame:
    """(query_id, rank, docid, score): conjunctive retrieval — only docs
    containing EVERY analyzed query term, ranked by exact BM25 with the
    engine's (score desc, docid asc) pinning. Queries whose terms are not
    all in the corpus return no rows (strict AND)."""
    from .spimi import committed_segments

    stats = load_stats(index_dir)
    seg = committed_segments(spark, index_dir)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    tokenize = get_analyzer(stats.get("analyzer", "default")).py_tokenize
    qterms = {qid: sorted(set(tokenize(text))) for qid, text in queries}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        raise ValueError("no query terms")
    # driver-side dictionary probe — no Spark job (see _lookup_dfs_path)
    df_by_term = _lookup_dfs_path(index_dir, all_terms)
    qplans = []
    for qid, ts in qterms.items():
        present = [t for t in ts if t in df_by_term]
        if len(present) < len(ts):
            continue  # a term missing from the corpus → strict AND empties
        weighted = sorted(
            ((t, idf(n_docs, df_by_term[t])) for t in present),
            key=lambda x: (df_by_term[x[0]], x[0]),
        )
        qplans.append((qid, weighted, len(ts)))
    if not qplans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double"
        )
    relevant = seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(all_terms))
        | (F.col("kind") == "docs")
        | (F.col("kind") == "dels")
    )
    local = relevant.groupBy("shard").applyInPandas(
        lambda pdf: _score_shard_and(pdf, qplans, avgdl, k, round_to, tie_cap),
        "query_id int, docid long, score double",
    )
    return rank_topk(local, k, round_to)


class IndexReader:
    """Warm query handle: committed segments + term stats pinned in executor
    memory (StorageLevel MEMORY_AND_DISK), amortizing parquet scans across
    queries — the serving-path analog of an ES shard held open.

    Term-df lookups are additionally memoized DRIVER-side across calls
    (the working set is query vocabulary — tiny), so a warm query runs
    exactly ONE Spark job; only first-seen terms pay a metadata lookup."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from .spimi import committed_segments

        self.spark = spark
        self.index_dir = index_dir
        self.stats = load_stats(index_dir)
        self.seg = committed_segments(spark, index_dir).persist()
        self.termstats = load_termstats(spark, index_dir).persist()
        self.termstats.count()  # materialize both caches
        self.seg.count()
        self._df_cache: dict[str, int | None] = {}  # None = known-absent

    def _dfs_for(self, queries) -> dict[str, int]:
        tokenize = get_analyzer(self.stats.get("analyzer", "default")).py_tokenize
        terms = sorted({t for _, text in queries for t in tokenize(text)})
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            found = _lookup_dfs(self.termstats, missing)
            for t in missing:
                self._df_cache[t] = found.get(t)
        return {t: v for t in terms if (v := self._df_cache[t]) is not None}

    def topk(self, queries, k: int = 10, round_to: int | None = 4,
             tie_cap: int = 4096) -> DataFrame:
        return _topk_impl(
            self.spark, self.seg, self.termstats, self.stats,
            queries, k, round_to, tie_cap, df_by_term=self._dfs_for(queries),
        )

    def close(self) -> None:
        self.seg.unpersist()
        self.termstats.unpersist()
