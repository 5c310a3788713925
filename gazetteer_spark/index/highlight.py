"""Snippet/highlight windows from the positional term layout.

The classic result-page need: for each top-k hit, WHERE in the document
do the query terms cluster? Serving it from the positional layout keeps
the corpus untouched — the same O(query terms) bucket reads as ranked
retrieval, with position decode gated to the top-k docids (blockmeta
skip), so the cost per query is O(k · positions-of-query-terms-in-hits),
independent of corpus size.

Window semantics (test- and oracle-pinned): for a width-W window, the
best window of a document starts at a MATCHED position p maximizing the
number of DISTINCT query terms in [p, p+W-1]; ties break to the earliest
p. Anchoring at matched positions loses nothing — any window containing
a match set can be shifted right until its leftmost match is its start.

Reference analog: the match-position evidence the reference's name
matcher exposes for downstream consumers (`addresses/impl/
NamesMatcherImpl.java:38-46`) — here generalized to ranked snippets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import get_analyzer
from ..session import local_frame
from . import termindex

OUT_SCHEMA = ("query_id int, rank int, docid long, score double, "
              "win_start int, n_terms int")


def _best_windows(pdf: pd.DataFrame, window: int) -> pd.DataFrame:
    """Occurrence rows of ONE (query, part) group → one best window per
    doc. Per-doc work is O(m log m) in its matched occurrences m —
    bounded by k docs × query-term tfs, never by doclen."""
    empty = pd.DataFrame({
        "query_id": pd.Series([], dtype="int32"),
        "docid": pd.Series([], dtype="int64"),
        "win_start": pd.Series([], dtype="int32"),
        "n_terms": pd.Series([], dtype="int32")})
    if pdf.empty:
        return empty
    qid = int(pdf["query_id"].iloc[0])
    out_doc, out_ws, out_nt = [], [], []
    for docid, grp in pdf.groupby("docid", sort=True):
        pos = grp["pos"].to_numpy(np.int64)
        slot = grp["slot"].to_numpy(np.int64)
        order = np.argsort(pos, kind="stable")
        ps, sl = pos[order], slot[order]
        best_nt, best_ws = 0, 0
        for i in range(len(ps)):
            if i > 0 and ps[i] == ps[i - 1]:
                continue  # duplicate anchor → same window
            j = int(np.searchsorted(ps, ps[i] + window, side="left"))
            nt = len(np.unique(sl[i:j]))
            if nt > best_nt:  # ties keep the EARLIEST start (ascending ps)
                best_nt, best_ws = nt, int(ps[i])
        out_doc.append(docid)
        out_ws.append(best_ws)
        out_nt.append(best_nt)
    return pd.DataFrame({
        "query_id": np.int32(qid),
        "docid": np.asarray(out_doc, np.int64),
        "win_start": np.asarray(out_ws, np.int32),
        "n_terms": np.asarray(out_nt, np.int32)})


def highlight_topk(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    window: int = 8,
    round_to: int | None = 4,
    allow_stale: bool = False,
) -> DataFrame:
    """(query_id, rank, docid, score, win_start, n_terms): BM25 top-k with
    each hit's best width-``window`` snippet anchor.

    Pipeline: ranked retrieval via `termindex.bm25_topk` (its hits — ≤
    |queries|·k rows — are driver-side metadata, like wand's probe
    tables); then ONE positional pass over the SAME pruned buckets with
    the top-k docids as the candidate gate, so only blocks that can hold
    hits decode positions; best windows reduce per (query, part) group
    and broadcast-join back onto the hit list."""
    meta = termindex._load_meta(layout_dir)
    termindex._check_positional_layout(meta)
    termindex._check_stale(meta, allow_stale)
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    hits = termindex.bm25_topk(spark, layout_dir, queries, k=k,
                               round_to=round_to,
                               allow_stale=allow_stale).collect()
    if not hits:
        return local_frame(spark, [], OUT_SCHEMA)
    cand_by_qid: dict[int, np.ndarray] = {}
    for r in hits:
        cand_by_qid.setdefault(r["query_id"], []).append(r["docid"])
    cand_by_qid = {q: np.sort(np.asarray(d, np.int64))
                   for q, d in cand_by_qid.items()}

    qterms = {int(qid): sorted(set(tokenize(text))) for qid, text in queries
              if int(qid) in cand_by_qid}
    subs_by_term: dict[str, list[tuple[int, int]]] = {}
    for qid, ts in qterms.items():
        for slot, t in enumerate(ts):  # slot↔term 1:1 → distinct slots
            subs_by_term.setdefault(t, []).append((qid, slot))
    all_terms = sorted(subs_by_term)
    rows = termindex._pruned_rows(spark, layout_dir, meta, all_terms)
    occ = termindex._occurrence_rows(
        spark, rows, subs_by_term, cand_by_qid,
        termindex._default_parts(spark))
    wins = occ.groupBy("query_id", "part").applyInPandas(
        lambda pdf: _best_windows(pdf, window),
        "query_id int, docid long, win_start int, n_terms int")
    hit_df = local_frame(
        spark,
        [(r["query_id"], r["rank"], r["docid"], r["score"]) for r in hits],
        "query_id int, rank int, docid long, score double")
    return (wins.join(F.broadcast(hit_df), ["query_id", "docid"])
            .select("query_id", "rank", "docid", "score",
                    "win_start", "n_terms"))


def snippet_text(
    spark: SparkSession,
    layout_dir: str,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    window: int = 8,
    id_col: str = "docid",
    content_col: str = "content",
    round_to: int | None = 4,
    allow_stale: bool = False,
) -> DataFrame:
    """(query_id, rank, docid, score, win_start, n_terms, snippet): the
    result page — :func:`highlight_topk` plus each hit's snippet TEXT,
    re-tokenized from the corpus row.

    Scale shape: the hit list (≤ |queries|·k rows) is driver-side
    metadata, so the corpus read is ``id IN (hit docids)`` — a pushed-down
    membership filter that prunes parquet row groups; the snippet slice
    is one JVM expression over the analyzer's token array. The corpus is
    touched for exactly the result-page docs, never scanned."""
    meta = termindex._load_meta(layout_dir)
    an = get_analyzer(meta["analyzer"])
    hits = highlight_topk(spark, layout_dir, queries, k=k, window=window,
                          round_to=round_to, allow_stale=allow_stale)
    rows = hits.collect()
    if not rows:
        return local_frame(spark, [], OUT_SCHEMA + ", snippet string")
    ids = sorted({r["docid"] for r in rows})
    hit_df = local_frame(spark, rows, OUT_SCHEMA)
    toks = an.tokens_expr(F.col(content_col))
    return (
        docs.filter(F.col(id_col).isin(ids))
        .select(F.col(id_col).cast("long").alias("docid"),
                toks.alias("__toks"))
        .join(F.broadcast(hit_df), "docid")
        .select("query_id", "rank", "docid", "score", "win_start",
                "n_terms",
                F.concat_ws(
                    " ",
                    F.slice(F.col("__toks"), F.col("win_start") + F.lit(1),
                            F.lit(window)),
                ).alias("snippet"))
    )
