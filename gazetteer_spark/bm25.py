"""BM25 scoring as declarative DataFrame plans.

Scoring model (FROZEN; k1=1.2, b=0.75 per BASELINE):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfnorm(t,d) = tf * (k1+1) / (tf + k1 * (1 - b + b * doclen/avgdl))
    score(q,d)  = Σ_{t ∈ q}  idf(t) * tfnorm(t,d)

Rank pinning mirrors the reference's round-then-tiebreak ordering
(`join/JoinSliceRunable.java:848-875` — distance rounded to ~10cm then id):
top-k order is ``(score desc, docid asc)``.

Scale notes:
- corpus stats (N, avgdl) and the query-term idf table are tiny →
  broadcast joins (the reference's ``--common`` broadcast analog,
  `join/JoinExecutor.java:239-261`).
- the postings⋈query join is a broadcast of Q terms against the postings
  table, so the only large-data movement is the groupBy(docid) partial agg
  — map-side combined, shuffle carries ≤ one row per (docid) candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import B, K1
from .analyzer import py_tokenize
from .session import local_frame


def doc_stats(postings: DataFrame) -> DataFrame:
    """(docid, doclen) from (docid, term, tf)."""
    return postings.groupBy("docid").agg(F.sum("tf").cast("int").alias("doclen"))


def term_stats(postings: DataFrame, salted: bool = False, salt_buckets: int = 64) -> DataFrame:
    """(term, df, cf): document frequency + collection frequency.

    ``salted=True`` demonstrates the explicit two-level salted reduce for
    hot-term skew (SURVEY §7.3 hard-part 2): first reduce on
    (term, hash(docid)%S), then recombine on term. With Catalyst's partial
    aggregation the plain groupBy is already skew-safe for *counts*; the
    salted path exists for agg states that grow with group size (e.g.
    collect of postings) and is verified equal to the unsalted plan.
    """
    if not salted:
        return postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
        )
    lvl1 = (
        postings.withColumn("salt", F.pmod(F.xxhash64("docid"), F.lit(salt_buckets)))
        .groupBy("term", "salt")
        .agg(F.count(F.lit(1)).alias("pdf"), F.sum("tf").alias("pcf"))
    )
    return lvl1.groupBy("term").agg(F.sum("pdf").alias("df"), F.sum("pcf").alias("cf"))


def corpus_stats(docstats: DataFrame) -> DataFrame:
    """One row: (n_docs, avgdl)."""
    return docstats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
    )


def idf_expr(df_col, n_docs_col):
    return F.log(F.lit(1.0) + (n_docs_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def tfnorm_expr(tf_col, doclen_col, avgdl_col, k1: float = K1, b: float = B):
    return (tf_col * (k1 + 1.0)) / (
        tf_col + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * doclen_col / avgdl_col)
    )


def bm25f_weight_expr(boost_col, tf_col, flen_col, avglen_col):
    """Column twin of ``scoring.bm25f_weight``: one field's boost-weighted,
    length-normalized tf."""
    return boost_col * tf_col / (1.0 - B + B * flen_col / avglen_col)


def bm25f_contrib_expr(idf_col, tfw_col):
    """Column twin of ``scoring.bm25f_contrib``."""
    return idf_col * tfw_col / (K1 + tfw_col)


def rank_topk(scored: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """(query_id, rank, docid, score) from (query_id, docid, score): the
    engine's rank contract — scores rounded to ``round_to`` dp, ranked per
    query by (score desc, docid asc), the first ``k`` kept (a
    group-limited window, WindowGroupLimit in the plan)."""
    score = (F.round(F.col("score"), round_to) if round_to is not None
             else F.col("score"))
    win = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("docid").asc())
    return (
        scored.select("query_id", "docid", score.alias("score"))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "docid", "score")
    )


def score_queries(
    spark: SparkSession,
    postings: DataFrame,
    docstats: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact (non-WAND) distributed BM25 top-k for a batch of queries.

    Returns (query_id, rank, docid, score) with rank pinned by
    (score desc, docid asc). ``round_to`` rounds the *emitted* score (and the
    score used for ranking) so results hash-compare stably against the
    DuckDB oracle despite floating-point summation-order differences.
    """
    qterms = [
        (qid, t) for qid, text in queries for t in sorted(set(py_tokenize(text)))
    ]
    if not qterms:
        raise ValueError("no query terms")
    terms = sorted({t for _, t in qterms})

    # ONE stats job collects the tiny metadata the plan needs as literals:
    # per-query-term df and (n_docs, avgdl), two subtrees unioned into a
    # single collect. The previous shape computed these through a chain of
    # broadcast subqueries (idf ⨝ cs, qweights, avgdl crossJoin), each a
    # separate broadcast-exchange job re-running the corpus tokenize — five
    # to six corpus passes per call; now it is three (this stats job's two
    # subtrees + the main job's postings/docstats pair). Values stay exact:
    # df/n_docs are integers, avgdl is Spark's own double, and idf/tfnorm
    # still evaluate INSIDE the JVM below (identical float semantics).
    tdf = (
        postings.filter(F.col("term").isin(terms))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .select("term", F.col("df").cast("double").alias("a"),
                F.lit(0.0).alias("b"))
    )
    csu = corpus_stats(docstats).select(
        F.lit(None).cast("string").alias("term"),
        F.col("n_docs").cast("double").alias("a"),
        F.col("avgdl").cast("double").alias("b"),
    )
    df_by_term: dict[str, int] = {}
    n_docs, avgdl = 0, None
    for r in tdf.unionByName(csu).collect():
        if r["term"] is None:
            n_docs, avgdl = int(r["a"]), r["b"]
        else:
            df_by_term[r["term"]] = int(r["a"])

    qw_rows = [(qid, t, df_by_term[t]) for qid, t in qterms
               if t in df_by_term]  # drops OOV terms
    qwdf = local_frame(spark, qw_rows, "query_id int, term string, df long")
    # idf as a JVM expression over literal stats — constant-folded per row,
    # bit-identical to the former broadcast-computed idf column
    qweights = qwdf.select(
        "query_id", "term",
        idf_expr(F.col("df"), F.lit(n_docs).cast("long")).alias("idf"),
    )

    contrib = (
        postings.join(F.broadcast(qweights), "term", "inner")
        .join(docstats, "docid", "inner")
        .select(
            "query_id",
            "docid",
            (F.col("idf") * tfnorm_expr(
                F.col("tf"), F.col("doclen"),
                F.lit(avgdl).cast("double"))).alias("part"),
        )
    )
    return rank_topk(
        contrib.groupBy("query_id", "docid").agg(F.sum("part").alias("score")),
        k, round_to)
