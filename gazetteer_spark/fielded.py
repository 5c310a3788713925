"""Fielded documents + BM25F ranking — multi-field search documents.

Reference parity: gazetteer's search doc is inherently multi-field — name,
alt_names, translations, per-level address parts with level sizes acting as
per-field weights (`join/out_handlers/GazetteerOutWriter.java:455-550,
739-864`, level→size table `addresses/Constants.java:31-59`). This module
re-expresses that as (field, term) postings with per-field boosts and BM25F
ranking (Zaragoza et al.'s simple-BM25F: per-field length-normalized,
boost-weighted term frequencies combined BEFORE the BM25 saturation).

FROZEN scoring semantics (both the exact DataFrame path, the index-served
path, and the DuckDB oracle in catalog.py implement these equations):

    len_f(d)   = token count of doc d in field f
    avglen_f   = (Σ_d len_f(d)) / N          N = docs with ≥1 token anywhere
    tfw(d,t)   = Σ_f boost_f · tf_{d,f,t} / (1 − b + b·len_f(d)/avglen_f)
    idf(t)     = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))   df_t = docs with t
                                                          in ANY field
    score(d,q) = Σ_{t∈q} idf(t) · tfw(d,t) / (k1 + tfw(d,t))

k1 = K1, b = B (the engine's frozen BM25 constants); ranks pinned
(score rounded to 4dp desc, docid asc) like every other top-k.

Physical design (index-served path): per-(field, term) postings are stored
in the UNCHANGED segment layout as composite terms ``field\\x1fterm``
(spimi.FIELD_SEP) — doc-sharded, so every field of a doc lives in the same
shard; per-field doc lengths are kind='fdocs' rows (term = field name) in
the same shard. A fielded query scans only its query terms' composite rows
(parquet In(term, …) pruning) + the fdocs/dels rows; scoring is one
applyInPandas over shards + the global top-k window. Doc-level df (for idf)
is one extra tiny job over the same pruned rows (shard-disjoint docids →
per-shard distinct counts sum exactly).
"""

from __future__ import annotations

import json
import os
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import B, K1
from .analyzer import (
    get_analyzer,
    postings_arrow,
    postings_positions_arrow,
    postings_sql,
)
from .bm25 import (
    bm25f_contrib_expr,
    bm25f_weight_expr,
    idf_expr,
    rank_topk,
)
from .index import spimi
from .index.codec import DelIndex, decode_postings
from .index.phrase import _emission_frame
from .index.scoring import (
    bm25f_contrib,
    bm25f_weight,
    idf,
    local_topk,
    rank_margin,
)
from .index.spimi import FIELD_SEP
from .session import local_frame

DEFAULT_BOOST = 1.0


def fielded_postings(
    docs: DataFrame, id_col: str, fields: dict[str, str],
    analyzer: str = "default", arrow: bool = True, positions: bool = False,
) -> DataFrame:
    """(docid, field, term, tf[, pos]): per-field postings — one analyzer
    pass per field (JVM tokenizer + Arrow fold), unioned. Fields iterate in
    sorted name order for deterministic plans. ``positions=True`` adds the
    per-field token-index array (positions are FIELD-LOCAL: each field is
    analyzed separately, so token 0 is the field's first token — exactly
    the coordinate system phrase-within-field matching needs)."""
    tk = get_analyzer(analyzer).tokens_expr
    parts = []
    for name in sorted(fields):
        if positions:
            p = postings_positions_arrow(docs, id_col, fields[name],
                                         tokens_fn=tk)
            cols = ["docid", F.lit(name).alias("field"), "term", "tf", "pos"]
        else:
            make = postings_arrow if arrow else postings_sql
            p = make(docs, id_col, fields[name], **(
                {"tokens_fn": tk} if arrow else {}
            ))
            cols = ["docid", F.lit(name).alias("field"), "term", "tf"]
        parts.append(p.select(*cols))
    return reduce(lambda a, b: a.unionByName(b), parts)


def _boost_expr(boosts: dict[str, float]):
    expr = F.lit(DEFAULT_BOOST).cast("double")
    for name, b in boosts.items():
        expr = F.when(F.col("field") == name, F.lit(float(b))).otherwise(expr)
    return expr


def bm25f_topk(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    fields: dict[str, str],
    queries: list[tuple[int, str]],
    boosts: dict[str, float] | None = None,
    k: int = 10,
    round_to: int | None = 4,
    analyzer: str = "default",
) -> DataFrame:
    """(query_id, rank, docid, score): exact (corpus-scan) BM25F — the
    DataFrame twin of the index-served :func:`fielded_topk`, and the shape
    the DuckDB oracle mirrors. One postings pass; every aggregate is a
    partial-agg groupBy; the per-field stats and query terms broadcast."""
    boosts = boosts or {}
    tokenize = get_analyzer(analyzer).py_tokenize
    qrows = [
        (qid, t) for qid, text in queries for t in sorted(set(tokenize(text)))
    ]
    qdf = local_frame(spark, qrows, "query_id int, term string")

    fp = fielded_postings(docs, id_col, fields, analyzer)
    flen = fp.groupBy("docid", "field").agg(F.sum("tf").alias("flen"))
    nd = fp.select(F.countDistinct("docid").alias("n"))
    avgl = (
        flen.groupBy("field").agg(F.sum("flen").alias("tot"))
        .crossJoin(F.broadcast(nd))
        .select("field", (F.col("tot").cast("double") / F.col("n")).alias("avglen"))
    )
    dft = (
        fp.join(F.broadcast(qdf.select("term").distinct()), "term", "left_semi")
        .groupBy("term").agg(F.countDistinct("docid").alias("df"))
    )
    idfs = dft.crossJoin(F.broadcast(nd)).select(
        "term", idf_expr(F.col("df"), F.col("n")).alias("idf"),
    )
    w = (
        fp.join(F.broadcast(qdf), "term")
        .join(flen, ["docid", "field"])
        .join(F.broadcast(avgl), "field")
        .withColumn("w", bm25f_weight_expr(
            _boost_expr(boosts), F.col("tf"), F.col("flen"),
            F.col("avglen")))
        .groupBy("query_id", "docid", "term")
        .agg(F.sum("w").alias("tfw"))
    )
    scored = (
        w.join(F.broadcast(idfs), "term")
        .groupBy("query_id", "docid")
        .agg(F.sum(bm25f_contrib_expr(F.col("idf"), F.col("tfw")))
             .alias("score"))
    )
    return rank_topk(scored, k, round_to)


# ---------------------------------------------------------------------------
# index-served path
# ---------------------------------------------------------------------------

def build_fielded_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    fields: dict[str, str],
    n_shards: int = 32,
    id_col: str = "docid",
    analyzer: str = "default",
    positions: bool = False,
    manifest_extra: dict | None = None,
    doclens: bool = False,
) -> dict:
    """Build a fielded index: composite ``field\\x1fterm`` postings in the
    standard segment layout + per-field kind='fdocs' doc-length rows, all
    doc-sharded (every field of a doc co-lives in its shard). Records the
    field list and per-field totals in stats.json. Tombstone deletes and
    compaction work unchanged; incremental adds go through
    :func:`add_fielded_documents`.

    ``positions=True`` stores FIELD-LOCAL token positions per composite
    term (layout v2), enabling phrase-within-field queries
    (:func:`fielded_phrase_match`) from the same index.

    ``doclens=True`` (layout v3): each composite term additionally stores
    a varbyte stream of PER-FIELD doclens aligned with its posting order —
    the normalization length BM25F applies to that posting — so
    term-partitioned layouts build without a doclen-resolve stage."""
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    for sub in ("segments", "manifest", "manifest_pending"):  # fresh build
        if os.path.exists(f"{out_dir}/{sub}"):
            shutil.rmtree(f"{out_dir}/{sub}")
    params = {
        "n_shards": n_shards, "analyzer": analyzer,
        "analyzer_version": get_analyzer(analyzer).version,
        "k1": K1, "b": B, "positions": positions,
        "fields": sorted(fields),
    }
    if doclens:  # key present only when on: older build.json files stay valid
        params["doclens"] = True
    with open(f"{out_dir}/build.json", "w") as f:
        json.dump(params, f)
    p = _fielded_source(docs, id_col, fields, analyzer, n_shards, positions)
    spimi._write_generation(spark, p, out_dir, list(range(n_shards)), 0,
                            manifest_extra=manifest_extra,
                            with_doclens=doclens)
    spimi._refresh_derived(spark, out_dir, params)
    _refresh_field_stats(spark, out_dir)
    return spimi.load_stats(out_dir)


def add_fielded_documents(
    spark: SparkSession, docs: DataFrame, out_dir: str,
    fields: dict[str, str], id_col: str = "docid",
    manifest_extra: dict | None = None,
) -> dict:
    """Incremental fielded add — a new generation of composite postings +
    fdocs rows (same contract as spimi.add_documents)."""
    with open(f"{out_dir}/build.json") as f:
        params = json.load(f)
    if sorted(fields) != params.get("fields"):
        raise ValueError("field set differs from the built index")
    analyzer = params.get("analyzer", "default")
    if get_analyzer(analyzer).version != params["analyzer_version"]:
        raise ValueError("analyzer version changed — full rebuild required")
    generation = max(spimi.committed_generations(out_dir)) + 1
    import shutil

    gen_dir = f"{out_dir}/segments/gen={generation}"
    if os.path.exists(gen_dir):
        shutil.rmtree(gen_dir)
    stale = f"{out_dir}/manifest_pending/gen{generation}"
    if os.path.exists(stale):
        shutil.rmtree(stale)
    p = _fielded_source(docs, id_col, fields, analyzer, params["n_shards"],
                        params.get("positions", False))
    spimi._write_generation(spark, p, out_dir,
                            list(range(params["n_shards"])), generation,
                            manifest_extra=manifest_extra,
                            with_doclens=bool(params.get("doclens")))
    spimi._refresh_derived(spark, out_dir, params)
    _refresh_field_stats(spark, out_dir)
    return spimi.load_stats(out_dir)


def _fielded_source(docs, id_col, fields, analyzer, n_shards,
                    positions: bool = False):
    fp = fielded_postings(docs, id_col, fields, analyzer, positions=positions)
    cols = [
        "docid",
        F.concat(F.col("field"), F.lit(FIELD_SEP), F.col("term")).alias("term"),
        "tf", "field",
    ] + (["pos"] if positions else [])
    return fp.select(*cols).withColumn(
        "shard", spimi.shard_expr(F.col("docid"), n_shards)
    )


def _refresh_field_stats(spark: SparkSession, out_dir: str) -> None:
    """Per-field total token counts from termstats (composite-term cf sums)
    → stats.json field_totals; avglen_f = total_f / n_docs at query time."""
    ts = spimi.load_termstats(spark, out_dir)
    rows = (
        ts.groupBy(F.split(F.col("term"), FIELD_SEP, 2).getItem(0).alias("field"))
        .agg(F.sum("cf").alias("total"))
        .collect()
    )
    with open(f"{out_dir}/stats.json") as f:
        stats = json.load(f)
    stats["field_totals"] = {r["field"]: int(r["total"]) for r in rows}
    tmp = f"{out_dir}/.stats.json.tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, f"{out_dir}/stats.json")


def _fdocs_tables(pdf: pd.DataFrame) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per-field (docids sorted, lens), generations merged latest-wins."""
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    rows = pdf[pdf["kind"] == "fdocs"]
    if "gen" in rows.columns:
        rows = rows.sort_values("gen")
    for fname, grp in rows.groupby("term", sort=True):
        parts = [decode_postings(b) for b in grp["postings"]]
        ids = np.concatenate([p[0] for p in parts])
        lens = np.concatenate([p[1] for p in parts]).astype(np.int64)
        if len(parts) > 1:
            order = np.argsort(ids, kind="stable")
            ids, lens = ids[order], lens[order]
            keep = np.ones(len(ids), dtype=bool)
            keep[:-1] = ids[1:] != ids[:-1]
            ids, lens = ids[keep], lens[keep]
        out[str(fname)] = (ids, lens)
    return out


def _decode_composite(pdf: pd.DataFrame, comp_term: str, dels: DelIndex):
    """Merged (ids, tfs) of one composite term across generations, masked."""
    rows = pdf[(pdf["kind"] == "post") & (pdf["term"] == comp_term)]
    parts = []
    for r in rows.itertuples():
        ids, tfs = decode_postings(r.postings)
        if dels:
            keep = dels.keep_mask(int(r.gen), ids)
            ids, tfs = ids[keep], tfs[keep]
        parts.append((ids, tfs.astype(np.int64)))
    if not parts:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    ids = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    if len(parts) > 1:
        order = np.argsort(ids, kind="stable")
        ids, tfs = ids[order], tfs[order]
    return ids, tfs


def _term_tfw(pdf, term, fields, boosts, avglen, fdocs, dels):
    """(docids sorted, tfw) for one base term — FULL decode: boost-
    weighted, per-field length-normalized tf summed across fields
    (sorted field order, deterministic float summation)."""
    acc_ids = np.zeros(0, np.int64)
    acc_w = np.zeros(0, np.float64)
    for f in fields:
        if f not in fdocs:
            continue
        ids, tfs = _decode_composite(pdf, f + FIELD_SEP + term, dels)
        if len(ids) == 0:
            continue
        f_ids, f_lens = fdocs[f]
        lens = f_lens[np.searchsorted(f_ids, ids)]
        w = bm25f_weight(boosts.get(f, DEFAULT_BOOST), tfs,
                         lens.astype(np.float64), avglen[f])
        merged = np.union1d(acc_ids, ids)
        nw = np.zeros(len(merged))
        nw[np.searchsorted(merged, acc_ids)] = acc_w
        nw[np.searchsorted(merged, ids)] += w
        acc_ids, acc_w = merged, nw
    return acc_ids, acc_w


def _df_shard_fielded(pdf, base_terms, fields) -> pd.DataFrame:
    """(term, df_partial): per-shard doc-level df — distinct docids holding
    the term in ANY field. Shards hold disjoint docids, so the global df is
    the plain sum."""
    dels = DelIndex.from_pdf(pdf)
    out_t, out_n = [], []
    for t in base_terms:
        parts = [
            _decode_composite(pdf, f + FIELD_SEP + t, dels)[0] for f in fields
        ]
        ids = np.unique(np.concatenate(parts)) if parts else np.zeros(0)
        if len(ids):
            out_t.append(t)
            out_n.append(len(ids))
    return pd.DataFrame({"term": pd.Series(out_t, dtype="str"),
                         "df": pd.Series(out_n, dtype="int64")})


def _score_shard_fielded(
    pdf: pd.DataFrame,
    qplans: list[tuple[int, list[tuple[str, float]]]],
    fields: list[str],
    boosts: dict[str, float],
    avglen: dict[str, float],
    k: int,
    round_to: int | None,
    cap: int,
) -> pd.DataFrame:
    """One shard's fielded segment rows → local top-k' per query, via
    unit-at-a-time MaxScore with block-max skipping, where a UNIT is one
    (field, term) composite posting list (the wand.py algorithm lifted to
    BM25F at field granularity):

    - per-unit upper bound: with f(x) = x/(K1+x) (concave, f(0)=0, hence
      subadditive: f(a+b) ≤ f(a)+f(b)), the unit's block-metadata weight
      bound W = max_b boost_f·M_b/(1−b+b·M_b/avglen_f) gives score-gain
      bound idf·f(W); summed over any set of remaining units this bounds
      the total remaining gain even though BM25F's saturation spans
      fields — so the classic MaxScore suffix argument carries over.
    - units run in bound-descending order; a low-boost wide field sorts
      LATE and is pruned independently of its term's high-boost narrow
      fields: once the suffix cannot beat θ (k-th best partial, minus the
      two-rounding-ulp margin) the unit never decodes its full composite
      postings — candidates that cannot reach θ even granted their own
      blocks' bound are dropped, then ONLY blocks still holding survivors
      are decoded.
    - per-(term, field) tfw components (``scoring.bm25f_weight``) are
      kept separately and summed in FIELDS order at scoring — the order
      every numpy BM25F scorer sums them in — so scores match the exact
      scorers bit-for-bit.
    Survivors end with exact BM25F scores by construction; emission uses
    the rounded-bar rule shared with the global merge."""
    fdocs = _fdocs_tables(pdf)
    if not fdocs:
        return _emission_frame([])
    dels = DelIndex.from_pdf(pdf)

    from .index.codec import decode_block_meta, decode_blocks

    has_gen = "gen" in pdf.columns
    comp_rows: dict[str, list[tuple[bytes, bytes, int]]] = {}
    for r in pdf[pdf["kind"] == "post"].itertuples():
        comp_rows.setdefault(r.term, []).append(
            (r.postings, r.blockmeta, int(r.gen) if has_gen else 0)
        )

    class _Seg:
        __slots__ = ("pbuf", "bends", "blast", "bub", "gen")

    handles_cache: dict[str, tuple[list, float]] = {}

    def handles_of(term):
        """([(field, boost, [segs])] in sorted-field order, tfw upper
        bound) — built from block METADATA only; posting bytes untouched."""
        if term not in handles_cache:
            out, tub = [], 0.0
            for f in fields:
                if f not in fdocs:
                    continue
                rows = comp_rows.get(f + FIELD_SEP + term)
                if not rows:
                    continue
                bst = boosts.get(f, DEFAULT_BOOST)
                segs, fmax = [], 0.0
                for pbuf, bbuf, gen in rows:
                    blast, bmax_tf, _bmin_dl, bends = decode_block_meta(bbuf)
                    s = _Seg()
                    s.pbuf, s.bends, s.blast, s.gen = pbuf, bends, blast, gen
                    if len(bmax_tf):
                        m = bmax_tf.astype(np.float64)
                        s.bub = bm25f_weight(bst, m, m, avglen[f])
                        fmax = max(fmax, float(s.bub.max()))
                    else:
                        s.bub = np.zeros(0)
                    segs.append(s)
                if segs:
                    out.append((f, bst, segs))
                    tub += fmax
            handles_cache[term] = (out, tub)
        return handles_cache[term]

    margin = rank_margin(round_to)

    emitted = []
    for qid, weighted_terms in qplans:
        terms = [(t, idf) for t, idf in weighted_terms if handles_of(t)[0]]
        if not terms:
            continue
        # MaxScore over (FIELD, term) UNITS, not terms: each unit's bound
        # is idf·f(fmax) with f(x)=x/(K1+x); f is concave with f(0)=0, so
        # f(Σ_f w_f) ≤ Σ_f f(w_f) — the suffix-sum of unit bounds upper-
        # bounds any remaining score gain even though the BM25F saturation
        # spans fields. A low-boost wide field (tiny bound, huge postings)
        # therefore sorts late and is skipped/block-decoded INDEPENDENTLY
        # of its term's high-boost narrow fields.
        units = []  # (term_idx, field, boost, segs)
        uub = []
        for ti, (t, idf) in enumerate(terms):
            for f, bst, segs in handles_of(t)[0]:
                fmax = max(
                    (float(s.bub.max()) for s in segs if len(s.bub)),
                    default=0.0,
                )
                units.append((ti, f, bst, segs))
                uub.append(bm25f_contrib(idf, fmax))
        ubs = np.asarray(uub, dtype=np.float64)
        order = np.argsort(-ubs, kind="stable")
        suffix = np.zeros(len(order) + 1)
        suffix[:-1] = np.cumsum(ubs[order][::-1])[::-1]

        cand_ids = np.zeros(0, np.int64)
        # per-(term, field) tfw components aligned with cand_ids — summed
        # in FIELDS order at scoring time, the kernel's tfw order
        comp: dict[tuple[int, str], np.ndarray] = {}

        def scores() -> np.ndarray:
            s = np.zeros(len(cand_ids))
            for ti, (t, idf) in enumerate(terms):
                tfw = None
                for f in fields:
                    a = comp.get((ti, f))
                    if a is not None:
                        tfw = a.copy() if tfw is None else tfw + a
                if tfw is not None:
                    s += np.where(tfw > 0, bm25f_contrib(idf, tfw), 0.0)
            return s

        theta = -np.inf
        for oi, ui in enumerate(order):
            ti, f, bst, segs = units[ui]
            term, idf = terms[ti]
            rem = suffix[oi + 1]
            can_introduce = not np.isfinite(theta) or (
                ubs[ui] + rem >= theta - margin
            )
            if can_introduce:
                ids, tfs = _decode_composite(pdf, f + FIELD_SEP + term, dels)
                if len(ids):
                    f_ids, f_lens = fdocs[f]
                    lens = f_lens[np.searchsorted(f_ids, ids)]
                    w = bm25f_weight(bst, tfs, lens.astype(np.float64),
                                     avglen[f])
                    merged = np.union1d(cand_ids, ids)
                    if len(merged) != len(cand_ids):
                        old_pos = np.searchsorted(merged, cand_ids)
                        for key in comp:
                            arr = np.zeros(len(merged))
                            arr[old_pos] = comp[key]
                            comp[key] = arr
                        cand_ids = merged
                    a = comp.setdefault((ti, f), np.zeros(len(cand_ids)))
                    a[np.searchsorted(cand_ids, ids)] += w
            elif len(cand_ids):
                # update-only: candidate-level bound for THIS unit from
                # block metadata (max across generations); gain ≤ idf·f(ub)
                # by the same concavity argument — drop candidates that
                # cannot reach θ even granted it plus all remaining units'
                # bounds, then decode ONLY blocks holding survivors
                ub_c = np.zeros(len(cand_ids))
                for s in segs:
                    bi = np.searchsorted(s.blast, cand_ids, side="left")
                    inside = bi < len(s.blast)
                    u = np.zeros(len(cand_ids))
                    u[inside] = s.bub[bi[inside]]
                    ub_c = np.maximum(ub_c, u)
                keep = (
                    scores() + bm25f_contrib(idf, ub_c) + rem
                    >= theta - margin
                )
                if not keep.all():
                    cand_ids = cand_ids[keep]
                    for key in comp:
                        comp[key] = comp[key][keep]
                if len(cand_ids) == 0:
                    continue
                f_ids, f_lens = fdocs[f]
                for s in segs:
                    bi = np.searchsorted(s.blast, cand_ids, side="left")
                    inside = bi < len(s.blast)
                    need = np.unique(bi[inside]) if len(bi) else bi[:0]
                    if len(need) == 0:
                        continue
                    ids, tfs = decode_blocks(s.pbuf, s.bends, need)
                    if dels:
                        km = dels.keep_mask(s.gen, ids)
                        ids, tfs = ids[km], tfs[km]
                    hit = np.searchsorted(cand_ids, ids)
                    ok = (hit < len(cand_ids)) & (
                        cand_ids[np.minimum(hit, len(cand_ids) - 1)] == ids
                    )
                    if not ok.any():
                        continue
                    lens = f_lens[np.searchsorted(f_ids, ids[ok])]
                    w = bm25f_weight(bst, tfs[ok], lens.astype(np.float64),
                                     avglen[f])
                    a = comp.setdefault((ti, f), np.zeros(len(cand_ids)))
                    a[hit[ok]] += w
            # θ only grows; prune docs that cannot reach it
            if len(cand_ids) >= k:
                s_now = scores()
                theta = np.partition(s_now, -k)[-k]
                keep = s_now + rem >= theta - margin
                if not keep.all():
                    cand_ids = cand_ids[keep]
                    for key in comp:
                        comp[key] = comp[key][keep]
        if len(cand_ids) == 0:
            continue
        emitted.append(
            (qid, *local_topk(cand_ids, scores(), k, round_to, cap)))
    return _emission_frame(emitted)


def _relevant_fielded(seg: DataFrame, fields: list[str], terms: list[str]):
    comp = [f + FIELD_SEP + t for f in fields for t in terms]
    return seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(comp))
        | (F.col("kind") == "fdocs")
        | (F.col("kind") == "dels")
    )


def _df_job(seg: DataFrame, fields: list[str], terms: list[str]) -> dict[str, int]:
    """Doc-level df per base term: per-shard distinct counts sum exactly
    (shards hold disjoint docids)."""
    rows = (
        _relevant_fielded(seg, fields, terms).groupBy("shard")
        .applyInPandas(
            lambda p: _df_shard_fielded(p, terms, fields),
            "term string, df long",
        )
        .groupBy("term").agg(F.sum("df").alias("df"))
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


def _fielded_topk_impl(
    spark: SparkSession,
    seg: DataFrame,
    stats: dict,
    queries: list[tuple[int, str]],
    boosts: dict[str, float],
    k: int,
    round_to: int | None,
    tie_cap: int,
    df_by_term: dict[str, int],
    all_terms: list[str],
    qterms: dict[int, list[str]],
) -> DataFrame:
    fields = stats["fields"]
    n_docs = stats["n_docs"]
    avglen = {f: stats["field_totals"].get(f, 0) / n_docs for f in fields}
    qplans = [
        (qid, [(t, idf(n_docs, df_by_term[t])) for t in ts if t in df_by_term])
        for qid, ts in qterms.items()
    ]
    qplans = [(qid, ts) for qid, ts in qplans if ts]
    if not qplans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double"
        )
    local = _relevant_fielded(seg, fields, all_terms).groupBy("shard").applyInPandas(
        lambda p: _score_shard_fielded(
            p, qplans, fields, boosts, avglen, k, round_to, tie_cap
        ),
        "query_id int, docid long, score double",
    )
    return rank_topk(local, k, round_to)


def fielded_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    boosts: dict[str, float] | None = None,
    k: int = 10,
    round_to: int | None = 4,
    tie_cap: int = 4096,
) -> DataFrame:
    """(query_id, rank, docid, score): BM25F top-k served from a fielded
    index — two jobs over the term-pruned segment scan (doc-level df, then
    scoring), one global top-k window. Rank-identical to :func:`bm25f_topk`
    and the DuckDB oracle. For repeated serving use :class:`FieldedReader`
    (pinned segments + memoized df → one job per warm query batch)."""
    stats = spimi.load_stats(index_dir)
    tokenize = get_analyzer(stats.get("analyzer", "default")).py_tokenize
    qterms = {qid: sorted(set(tokenize(text))) for qid, text in queries}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        raise ValueError("no query terms")
    seg = spimi.committed_segments(spark, index_dir)
    df_by_term = _df_job(seg, stats["fields"], all_terms)
    return _fielded_topk_impl(
        spark, seg, stats, queries, boosts or {}, k, round_to, tie_cap,
        df_by_term, all_terms, qterms,
    )


def _fielded_positional(spark: SparkSession, index_dir: str, field: str,
                        seg: DataFrame | None = None):
    """(params, committed segments) for a positional FIELDED index, with
    the field validated — shared gate for phrase/NEAR-within-field.
    ``seg`` substitutes a pinned segment DataFrame (FieldedReader warm
    path) for the fresh committed_segments read."""
    from .index import phrase as phrase_mod

    if seg is None:
        params, seg = phrase_mod._positional_segments(spark, index_dir)
    else:
        with open(f"{index_dir}/build.json") as f:
            params = json.load(f)
        if not params.get("positions"):
            raise ValueError(
                "index was built without positions; rebuild the fielded "
                "index with positions=True for phrase/NEAR-within-field"
            )
    flds = params.get("fields") or []
    if not flds:
        raise ValueError("not a fielded index — use phrase.phrase_match")
    if field not in flds:
        raise ValueError(f"unknown field {field!r} (index has {flds})")
    return params, seg


def fielded_phrase_match(
    spark: SparkSession, index_dir: str, field: str, phrase: str,
    seg: DataFrame | None = None,
) -> DataFrame:
    """(docid, n_occurrences): documents whose FIELD contains the exact
    token phrase — phrase-within-field, served entirely from the positional
    fielded index (build with ``positions=True``); the one-query form of
    :func:`fielded_phrase_match_batch`.

    Reference parity: the reference's containment matching runs against a
    specific name field, not whole-document text
    (`addresses/impl/NamesMatcherImpl.java:38-46`). Positions are
    field-local token indexes, and composite ``field\\x1fterm`` postings are
    doc-sharded like every other term, so the generic block-selective
    phrase machinery (index/phrase.py) applies verbatim to the composite
    terms: rarest-first intersection, positions decoded only for
    candidate-holding blocks, one (docid, count) shuffle."""
    return fielded_phrase_match_batch(
        spark, index_dir, [(0, field, phrase)], seg=seg).drop("query_id")


def fielded_phrase_match_batch(
    spark: SparkSession, index_dir: str,
    queries: list[tuple[int, str, str]],
    seg: DataFrame | None = None,
) -> DataFrame:
    """(query_id, docid, n_occurrences): N phrase-within-field queries —
    rows (query_id, field, phrase), possibly across DIFFERENT fields — in
    ONE Spark job: one segment scan pruned to the union of all queries'
    composite terms, one shuffle (the fielded twin of
    phrase.phrase_match_batch)."""
    from .index import phrase as phrase_mod

    if not queries:
        raise ValueError("empty query batch")
    params, seg = _fielded_positional(spark, index_dir, queries[0][1], seg)
    tokenize = get_analyzer(params.get("analyzer", "default")).py_tokenize
    flds = params.get("fields") or []
    plans = []
    for qid, field, phrase in queries:
        if field not in flds:
            raise ValueError(f"unknown field {field!r} (index has {flds})")
        terms = tokenize(phrase)
        if not terms:
            raise ValueError(f"empty phrase after analysis (query {qid})")
        plans.append((int(qid), [field + FIELD_SEP + t for t in terms]))
    all_comp = sorted({c for _, comp in plans for c in comp})
    return phrase_mod._per_query_shards(
        phrase_mod._relevant_rows(seg, all_comp), plans,
        phrase_mod._phrase_shard, "docid long, n_occurrences long")


def fielded_near_match(
    spark: SparkSession, index_dir: str, field: str,
    term_a: str, term_b: str, k: int = 3,
    seg: DataFrame | None = None,
) -> DataFrame:
    """(docid, n_pairs): NEAR/k within one field — occurrences of the two
    analyzed terms within token distance ≤ k INSIDE the field's token
    sequence (field-local positions never mix with other fields'), served
    from the positional fielded index."""
    from .index import phrase as phrase_mod

    params, seg = _fielded_positional(spark, index_dir, field, seg)
    tokenize = get_analyzer(params.get("analyzer", "default")).py_tokenize
    toks_a, toks_b = tokenize(term_a), tokenize(term_b)
    # the pairwise NEAR takes exactly one analyzed token per side — silently
    # matching only the first token of a multi-token input would answer a
    # narrower question than asked (use fielded_near_match_n for multi-term)
    for raw, toks in ((term_a, toks_a), (term_b, toks_b)):
        if len(toks) != 1:
            raise ValueError(
                f"NEAR term {raw!r} analyzes to {toks} (need exactly one "
                "token; use fielded_near_match_n for multi-term proximity)"
            )
    ta, tb = toks_a[0], toks_b[0]
    if ta == tb:
        raise ValueError("NEAR needs two distinct non-empty analyzed terms")
    ca, cb = field + FIELD_SEP + ta, field + FIELD_SEP + tb
    return phrase_mod._relevant_rows(seg, [ca, cb]).groupBy("shard").applyInPandas(
        lambda pdf: phrase_mod._near_shard(pdf, ca, cb, k),
        "docid long, n_pairs long",
    )


def fielded_near_match_n(
    spark: SparkSession, index_dir: str, field: str,
    terms: list[str], k: int = 3, ordered: bool = False,
    seg: DataFrame | None = None,
) -> DataFrame:
    """(docid, n_anchors): generalized N-term proximity WITHIN one field —
    the composite-term twin of phrase.near_match_n (unordered: every other
    term within ≤ k of the anchor; ordered: a strictly-increasing chain
    with each gap ≤ k), over field-local positions."""
    from .index import phrase as phrase_mod

    params, seg = _fielded_positional(spark, index_dir, field, seg)
    tokenize = get_analyzer(params.get("analyzer", "default")).py_tokenize
    analyzed = [t for term in terms for t in tokenize(term)]
    if len(analyzed) < 2:
        raise ValueError("NEAR/n needs at least two analyzed terms")
    comp = [field + FIELD_SEP + t for t in analyzed]
    return phrase_mod._relevant_rows(seg, comp).groupBy("shard").applyInPandas(
        lambda pdf: phrase_mod._near_n_shard(pdf, comp, k, ordered),
        "docid long, n_anchors long",
    )


def _phrase_scored_shard_fielded(
    pdf: pd.DataFrame, field: str, terms: list[str],
    qweights: dict[str, float], fields: list[str],
    boosts: dict[str, float], avglen: dict[str, float],
    k: int, round_to: int | None, cap: int,
) -> pd.DataFrame:
    """One shard → docs whose FIELD contains the phrase, scored by BM25F
    over the phrase's distinct terms (full fielded model: every field's
    boosted, length-normalized tf contributes), emitted with the engine's
    rounded-bar + (score desc, docid asc) contract."""
    from .index import phrase as phrase_mod

    empty = pd.DataFrame(columns=["docid", "score"]).astype(
        {"docid": "int64", "score": "float64"})
    comp = [field + FIELD_SEP + t for t in terms]
    matched = phrase_mod._phrase_shard(pdf, comp)
    if matched.empty:
        return empty
    cand = matched["docid"].to_numpy(dtype=np.int64)  # sorted (common order)
    fdocs = _fdocs_tables(pdf)
    if not fdocs:
        return empty
    dels = DelIndex.from_pdf(pdf)
    scores = np.zeros(len(cand))
    for t in sorted(set(terms)):
        idf = qweights.get(t)
        if idf is None:
            continue
        ids, tfw = _term_tfw(pdf, t, fields, boosts, avglen, fdocs, dels)
        hit = np.searchsorted(cand, ids)
        ok = (hit < len(cand)) & (cand[np.minimum(hit, len(cand) - 1)] == ids)
        scores[hit[ok]] += bm25f_contrib(idf, tfw[ok])
    ids_e, raw_e = local_topk(cand, scores, k, round_to, cap)
    return pd.DataFrame({"docid": ids_e, "score": raw_e})


def fielded_phrase_topk(
    spark: SparkSession, index_dir: str, field: str, phrase: str,
    boosts: dict[str, float] | None = None, k: int = 10,
    round_to: int | None = 4, tie_cap: int = 4096,
) -> DataFrame:
    """(rank, docid, score): RANKED phrase-within-field — documents whose
    FIELD contains the exact token phrase, ordered by BM25F over the
    phrase's terms (the reference ranks its containment matches inside the
    candidate ladder, `PoiAddrJoinBuilder.java:67-189`; here the candidate
    stage is field-local positional matching and the ranking stage the full
    fielded model). One scoring job over the term-pruned composite scan +
    the global top-k window (≤ shards × k rows)."""
    params, seg = _fielded_positional(spark, index_dir, field)
    stats = spimi.load_stats(index_dir)
    tokenize = get_analyzer(params.get("analyzer", "default")).py_tokenize
    terms = tokenize(phrase)
    if not terms:
        raise ValueError("empty phrase after analysis")
    base = sorted(set(terms))
    fields = stats["fields"]
    n_docs = stats["n_docs"]
    avglen = {f: stats["field_totals"].get(f, 0) / n_docs for f in fields}
    dfs = _df_job(seg, fields, base)
    if any(t not in dfs for t in base):  # conjunctive: absent term → empty
        return local_frame(spark, [], "rank int, docid long, score double")
    qweights = {t: idf(n_docs, dfs[t]) for t in base}
    boosts = boosts or {}
    local = _relevant_fielded(seg, fields, base).groupBy("shard").applyInPandas(
        lambda p: _phrase_scored_shard_fielded(
            p, field, terms, qweights, fields, boosts, avglen, k, round_to,
            tie_cap,
        ),
        "docid long, score double",
    )
    score = (F.round(F.col("score"), round_to) if round_to is not None
             else F.col("score"))
    win = W.orderBy(F.col("score").desc(), F.col("docid").asc())
    return (
        local.select("docid", score.alias("score"))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("rank", "docid", "score")
    )


class FieldedReader:
    """Warm BM25F serving handle — the fielded twin of wand.IndexReader:
    committed segments pinned in executor memory, per-base-term doc-level
    df memoized driver-side across calls (the df job runs only for
    first-seen terms), so a warm query batch runs exactly ONE Spark job
    (scoring) plus the top-k window."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = spimi.load_stats(index_dir)
        self.seg = spimi.committed_segments(spark, index_dir).persist()
        self.seg.count()  # materialize the cache
        self._df_cache: dict[str, int | None] = {}  # None = known-absent

    def _dfs_for(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            found = _df_job(self.seg, self.stats["fields"], missing)
            for t in missing:
                self._df_cache[t] = found.get(t)
        return {t: v for t in terms if (v := self._df_cache[t]) is not None}

    def topk(self, queries, boosts=None, k: int = 10,
             round_to: int | None = 4, tie_cap: int = 4096) -> DataFrame:
        tokenize = get_analyzer(
            self.stats.get("analyzer", "default")).py_tokenize
        qterms = {qid: sorted(set(tokenize(text))) for qid, text in queries}
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        if not all_terms:
            raise ValueError("no query terms")
        return _fielded_topk_impl(
            self.spark, self.seg, self.stats, queries, boosts or {}, k,
            round_to, tie_cap, self._dfs_for(all_terms), all_terms, qterms,
        )

    def phrase_match(self, field: str, phrase: str) -> DataFrame:
        """Warm phrase-within-field over the pinned segments."""
        return fielded_phrase_match(self.spark, self.index_dir, field,
                                    phrase, seg=self.seg)

    def phrase_match_batch(
        self, queries: list[tuple[int, str, str]]
    ) -> DataFrame:
        """Warm batched phrase-within-field ((query_id, field, phrase)
        rows, one job) over the pinned segments."""
        return fielded_phrase_match_batch(self.spark, self.index_dir,
                                          queries, seg=self.seg)

    def near_match(self, field: str, term_a: str, term_b: str,
                   k: int = 3) -> DataFrame:
        return fielded_near_match(self.spark, self.index_dir, field,
                                  term_a, term_b, k, seg=self.seg)

    def near_match_n(self, field: str, terms: list[str], k: int = 3,
                     ordered: bool = False) -> DataFrame:
        return fielded_near_match_n(self.spark, self.index_dir, field,
                                    terms, k, ordered, seg=self.seg)

    def close(self) -> None:
        self.seg.unpersist()
