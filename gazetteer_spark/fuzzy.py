"""Index-backed fuzzy / containment term lookup.

The reference's name matching is bidirectional substring containment over
normalized names (`addresses/impl/NamesMatcherImpl.java:38-46`). Serving
that from an index means answering "which VOCABULARY terms contain this
fragment?" without scanning the corpus — the classic Lucene wildcard/fuzzy
strategy: index the TERM DICTIONARY itself under a character-n-gram
analyzer, intersect the fragment's grams for candidates, verify exact
containment on the (tiny) candidate set, then fan in the matched terms'
postings from the main index.

Layout (built from a committed primary index):

- ``fuzzy_dir/gramidx/``  a standard segment index whose "documents" are
  the primary index's vocabulary terms (docid = xxhash64(term), content =
  the term string) built with the registered ``ngram3`` analyzer — every
  3-gram of a term becomes a posting. Scale: the dictionary is orders of
  magnitude smaller than the corpus, and the gram index shards it.
- ``fuzzy_dir/terms/``    the dictionary table (term_id, term, df) for the
  exact-containment verify, parquet.
- ``fuzzy_dir/layout.json`` lineage (source index, analyzer versions).

A fragment query touches: the gram index's segment files (parquet
``In(term, grams)`` pruning), the dictionary table, and — for doc fan-in —
the primary index's segment files. The corpus is never read.

Soundness: if canonical fragment f is a substring of term t, every 3-gram
of f is a 3-gram of t — the gram intersection is a SUPERSET of the true
matches; the verify step makes it exact. Fragments shorter than 3 chars
have no 3-grams and fall back to a dictionary-table scan (documented, same
as Lucene leading-wildcard behavior).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyzer import (
    Analyzer,
    get_analyzer,
    ngram_tokens_expr,
    py_tokenize,
    register_analyzer,
)
from .index import spimi
from .index.codec import DelIndex, decode_postings
from .index.phrase import _intersect_candidates, _term_handles
from .session import local_frame

NGRAM_N = 3


def _py_ngram_tokenize(text: str) -> list[str]:
    """Python twin of analyzer.ngram_tokens_expr (property-tested)."""
    out = []
    for t in py_tokenize(text):
        if len(t) >= NGRAM_N:
            out.extend(t[i : i + NGRAM_N] for i in range(len(t) - NGRAM_N + 1))
        else:
            out.append(t)
    return out


NGRAM_ANALYZER = Analyzer(
    name="ngram3",
    version="ngram3-v1+tok-v1",  # bump when the base chain or N changes
    tokens_expr=lambda c: ngram_tokens_expr(c, NGRAM_N),
    py_tokenize=_py_ngram_tokenize,
)
try:
    register_analyzer(NGRAM_ANALYZER)
except ValueError:  # re-import in the same process
    pass


def term_id_expr(term_col):
    return F.xxhash64(term_col)


def _posting_generations(index_dir: str) -> list[int]:
    """Committed generations that contributed postings (manifest rows with
    n_terms > 0) — driver-side metadata read, scales with shard count."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{index_dir}/manifest",
                      columns=["generation", "n_terms"])
    gens = {
        int(g) for g, n in zip(t["generation"].to_pylist(),
                               t["n_terms"].to_pylist()) if n and n > 0
    }
    return sorted(gens)


def build_fuzzy_layout(
    spark: SparkSession, index_dir: str, out_dir: str, n_shards: int = 8
) -> None:
    """Materialize the gram-over-dictionary layout from a committed index.

    Fielded indexes store composite ``field\\x1fterm`` postings; their
    fuzzy dictionary is the DISTINCT BASE terms (field prefix stripped) —
    a fragment matches a term regardless of which field holds it, and the
    doc fan-in expands matches back to every field's composite. The
    dictionary's df is then docs-holding-the-term-in-ANY-field summed
    per-field (an upper bound; informational only — the fan-in decodes
    exact postings)."""
    with open(f"{index_dir}/build.json") as f:
        params = json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    ts = spimi.load_termstats(spark, index_dir)
    if params.get("fields"):
        ts = (
            ts.select(
                F.split(F.col("term"), spimi.FIELD_SEP, 2).getItem(1)
                .alias("term"),
                "df",
            )
            .groupBy("term").agg(F.sum("df").alias("df"))
        )
    terms = ts.select(
        term_id_expr(F.col("term")).alias("term_id"), "term", "df"
    )
    terms.write.mode("overwrite").parquet(f"{out_dir}/terms")
    dict_df = _dict_table(spark, out_dir)
    spimi.build_index(
        spark, dict_df, f"{out_dir}/gramidx", n_shards=n_shards,
        id_col="term_id", content_col="term", analyzer="ngram3",
    )
    meta = {
        # relative to the layout dir: the bytes of a layout must not
        # depend on where the index lives (and the two move together)
        "source_index": os.path.relpath(index_dir, out_dir),
        "base_analyzer": params.get("analyzer", "default"),
        "base_analyzer_version": params["analyzer_version"],
        "gram_analyzer_version": NGRAM_ANALYZER.version,
        "n": NGRAM_N,
        # lineage snapshot: committed POSTING generations of the primary
        # index at layout-build time. New posting generations add
        # VOCABULARY the gram index has never seen — serving from a stale
        # layout would silently drop those terms from fuzzy recall, so
        # readers check this. Dels-only generations (n_terms == 0) never
        # stale the layout: the posting fan-in masks tombstones.
        "source_generations": _posting_generations(index_dir),
        "fields": params.get("fields"),  # non-null → fielded source index
    }
    tmp = f"{out_dir}/.layout.json.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, f"{out_dir}/layout.json")


# the dictionary table build_fuzzy_layout writes (term_id = xxhash64)
DICT_SCHEMA = "term_id long, term string, df long"


def _dict_table(spark: SparkSession, fuzzy_dir: str) -> DataFrame:
    """The fuzzy layout's dictionary table, read with its fixed schema
    (no schema-inference job)."""
    return spark.read.schema(DICT_SCHEMA).parquet(f"{fuzzy_dir}/terms")


def _grams_of(fragment: str) -> list[str]:
    if len(fragment) < NGRAM_N:
        return []
    return sorted(
        {fragment[i : i + NGRAM_N] for i in range(len(fragment) - NGRAM_N + 1)}
    )


def _and_shard(pdf: pd.DataFrame, grams: list[str]) -> pd.DataFrame:
    """Conjunctive gram intersection over one gram-index shard → term_ids."""
    empty = pd.DataFrame({"term_id": pd.Series([], dtype="int64")})
    per_term, df_tot = _term_handles(pdf)
    if any(g not in per_term for g in grams):
        return empty
    dels = DelIndex.from_pdf(pdf)
    order = sorted(set(grams), key=lambda g: (df_tot[g], g))
    cand = _intersect_candidates(per_term, order, dels)
    return pd.DataFrame({"term_id": cand.astype(np.int64)})


def _or_shard(pdf: pd.DataFrame, grams: list[str]) -> pd.DataFrame:
    """Disjunctive gram union (bidirectional candidates) → term_ids."""
    per_term, _ = _term_handles(pdf)
    dels = DelIndex.from_pdf(pdf)
    parts = []
    for g in grams:
        for s in per_term.get(g, []):
            ids = decode_postings(s.pbuf)[0]
            if dels:
                ids = ids[dels.keep_mask(s.gen, ids)]
            parts.append(ids)
    ids = (np.unique(np.concatenate(parts)) if parts
           else np.zeros(0, np.int64))
    return pd.DataFrame({"term_id": ids})


def fuzzy_terms(
    spark: SparkSession, fuzzy_dir: str, fragment: str,
    bidirectional: bool = False,
) -> DataFrame:
    """(term_id, term, df): vocabulary terms matching the fragment.

    Default mode = containment (fragment ⊆ term): candidates are the
    conjunctive gram intersection (sound superset), verified with an exact
    ``contains``. ``bidirectional=True`` additionally matches terms that
    are substrings OF the fragment (the reference's two-way containment):
    candidates become the gram UNION plus all sub-3-char dictionary terms,
    verified both ways — costlier (union-sized), documented trade-off."""
    with open(f"{fuzzy_dir}/layout.json") as f:
        meta = json.load(f)
    base = get_analyzer(meta["base_analyzer"])
    toks = base.py_tokenize(fragment)
    if len(toks) != 1:
        raise ValueError(
            "fuzzy term lookup takes a single-token fragment; analyze "
            f"{fragment!r} → {toks}"
        )
    frag = toks[0]
    grams = _grams_of(frag)
    terms_tbl = _dict_table(spark, fuzzy_dir)

    verify = F.col("term").contains(F.lit(frag))
    if bidirectional:
        verify = verify | F.lit(frag).contains(F.col("term"))

    if not grams:  # sub-3-char fragment: dictionary-table scan fallback
        return terms_tbl.filter(verify)

    seg = spimi.committed_segments(spark, f"{fuzzy_dir}/gramidx")
    relevant = seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(grams))
        | (F.col("kind") == "dels")
    )
    shard_fn = _or_shard if bidirectional else _and_shard
    cand = relevant.groupBy("shard").applyInPandas(
        lambda p: shard_fn(p, grams), "term_id long"
    )
    matched = terms_tbl.join(cand, "term_id", "left_semi").filter(verify)
    if bidirectional:
        # terms shorter than the gram width can never gram-collide with the
        # fragment but may be substrings of it — pull them from the (tiny)
        # short tail of the dictionary directly
        short = terms_tbl.filter(
            (F.length("term") < NGRAM_N) & F.lit(frag).contains(F.col("term"))
        )
        matched = matched.unionByName(short).distinct()
    return matched


def _count_shared_grams_shard(
    pdf: pd.DataFrame, grams: list[str], min_shared: int
) -> pd.DataFrame:
    """term_ids sharing ≥ min_shared DISTINCT query grams over one
    gram-index shard — the q-gram lower-bound candidate filter for edit
    distance (postings per gram are term_id sets; a per-term_id distinct
    count over the query's grams is one np.unique pass)."""
    empty = pd.DataFrame({"term_id": pd.Series([], dtype="int64")})
    per_term, _ = _term_handles(pdf)
    dels = DelIndex.from_pdf(pdf)
    parts = []
    for g in sorted(set(grams)):
        ids_g = []
        for s in per_term.get(g, []):
            ids = decode_postings(s.pbuf)[0]
            if dels:
                ids = ids[dels.keep_mask(s.gen, ids)]
            ids_g.append(ids)
        if ids_g:
            parts.append(np.unique(np.concatenate(ids_g)))
    if not parts:
        return empty
    allv, cnt = np.unique(np.concatenate(parts), return_counts=True)
    return pd.DataFrame({"term_id": allv[cnt >= min_shared].astype(np.int64)})


def fuzzy_terms_edit(
    spark: SparkSession, fuzzy_dir: str, word: str, max_edits: int = 1,
) -> DataFrame:
    """(term_id, term, df): vocabulary terms within Levenshtein distance
    ≤ ``max_edits`` of the analyzed word — typo-tolerant term lookup over
    the SAME gram-over-dictionary layout as containment (the reference's
    NamesMatcher seam for alternate matchers,
    `addresses/impl/NamesMatcherImpl.java:18-46`).

    Candidates by the q-gram count lower bound: one edit destroys at most
    n grams, so a match must share ≥ (|G(w)| − max_edits·n) of w's gram
    OCCURRENCES, hence ≥ D_w − max_edits·n of its DISTINCT grams (D_w =
    distinct grams of w; duplicates only weaken, never break, the bound).
    Candidates are verified with the exact JVM ``levenshtein`` — no
    Python in the verify. When the bound is powerless (short words:
    D_w − max_edits·n < 1) the verify runs as a dictionary-table scan —
    vocabulary-scale, one narrow job, the same documented fallback class
    as sub-3-char containment."""
    with open(f"{fuzzy_dir}/layout.json") as f:
        meta = json.load(f)
    base = get_analyzer(meta["base_analyzer"])
    toks = base.py_tokenize(word)
    if len(toks) != 1:
        raise ValueError(
            f"edit-distance lookup takes a single-token word; analyze "
            f"{word!r} → {toks}"
        )
    w = toks[0]
    terms_tbl = _dict_table(spark, fuzzy_dir)
    verify = F.levenshtein(F.col("term"), F.lit(w)) <= max_edits
    grams = _grams_of(w)
    min_shared = len(grams) - max_edits * NGRAM_N
    if min_shared < 1:  # bound powerless → dictionary scan fallback
        return terms_tbl.filter(verify)
    seg = spimi.committed_segments(spark, f"{fuzzy_dir}/gramidx")
    relevant = seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(grams))
        | (F.col("kind") == "dels")
    )
    cand = relevant.groupBy("shard").applyInPandas(
        lambda p: _count_shared_grams_shard(p, grams, min_shared),
        "term_id long",
    )
    return terms_tbl.join(cand, "term_id", "left_semi").filter(verify)


def _count_shared_grams_shard_multi(
    pdf: pd.DataFrame, specs: list[tuple[int, list[str], int]]
) -> pd.DataFrame:
    """(word_id, term_id) candidate pairs for MANY q-gram bound lookups
    over one gram-index shard — the batched twin of
    _count_shared_grams_shard: segment handles and tombstones are built
    once, each word's distinct-gram count runs on the shared decode."""
    empty = pd.DataFrame({"word_id": pd.Series([], dtype="int32"),
                          "term_id": pd.Series([], dtype="int64")})
    per_term, _ = _term_handles(pdf)
    dels = DelIndex.from_pdf(pdf)
    ids_by_gram: dict[str, np.ndarray] = {}
    for g in sorted({g for _, grams, _ in specs for g in grams}):
        parts = []
        for s in per_term.get(g, []):
            ids = decode_postings(s.pbuf)[0]
            if dels:
                ids = ids[dels.keep_mask(s.gen, ids)]
            parts.append(ids)
        if parts:
            ids_by_gram[g] = np.unique(np.concatenate(parts))
    frames = []
    for wid, grams, min_shared in specs:
        parts = [ids_by_gram[g] for g in sorted(set(grams))
                 if g in ids_by_gram]
        if not parts:
            continue
        allv, cnt = np.unique(np.concatenate(parts), return_counts=True)
        hit = allv[cnt >= min_shared]
        if len(hit):
            frames.append(pd.DataFrame({
                "word_id": np.int32(wid),
                "term_id": hit.astype(np.int64)}))
    return pd.concat(frames, ignore_index=True) if frames else empty


def fuzzy_terms_edit_batch(
    spark: SparkSession, fuzzy_dir: str,
    words: list[tuple[int, str, int]],
) -> dict[int, list[str]]:
    """{word_id: [vocabulary terms within Levenshtein ≤ max_edits]} for a
    BATCH of (word_id, word, max_edits) lookups in ONE Spark job — the
    front door's leaf-expansion path (round-5 verdict item #4: a query
    batch with N fuzzy leaves used to run N gram-probe jobs).

    Same candidate bound and exact-JVM-levenshtein verify as
    :func:`fuzzy_terms_edit`; words whose bound is powerless fall back to
    the dictionary-table scan INSIDE the same job (broadcast word list +
    one terms-table pass)."""
    with open(f"{fuzzy_dir}/layout.json") as f:
        meta = json.load(f)
    base = get_analyzer(meta["base_analyzer"])
    specs: list[tuple[int, list[str], int]] = []   # gram-capable
    fallback: list[tuple[int, str, int]] = []      # dictionary scan
    norm: dict[int, tuple[str, int]] = {}
    for wid, word, max_edits in words:
        toks = base.py_tokenize(word)
        if len(toks) != 1:
            raise ValueError(
                f"edit-distance lookup takes a single-token word; analyze "
                f"{word!r} → {toks}"
            )
        w = toks[0]
        norm[int(wid)] = (w, int(max_edits))
        grams = _grams_of(w)
        min_shared = len(grams) - max_edits * NGRAM_N
        if min_shared < 1:
            fallback.append((int(wid), w, int(max_edits)))
        else:
            specs.append((int(wid), grams, min_shared))
    terms_tbl = _dict_table(spark, fuzzy_dir)
    wdf = local_frame(
        spark, [(i, w, e) for i, (w, e) in sorted(norm.items())],
        "word_id int, word string, max_edits int",
    )
    verify = F.levenshtein(F.col("term"), F.col("word")) <= F.col("max_edits")
    parts = []
    if specs:
        all_grams = sorted({g for _, grams, _ in specs for g in grams})
        seg = spimi.committed_segments(spark, f"{fuzzy_dir}/gramidx")
        relevant = seg.filter(
            ((F.col("kind") == "post") & F.col("term").isin(all_grams))
            | (F.col("kind") == "dels")
        )
        cand = relevant.groupBy("shard").applyInPandas(
            lambda p: _count_shared_grams_shard_multi(p, specs),
            "word_id int, term_id long",
        )
        parts.append(
            cand.join(terms_tbl, "term_id")
            .join(F.broadcast(wdf), "word_id")
            .filter(verify).select("word_id", "term")
        )
    if fallback:
        fb = local_frame(
            spark, fallback, "word_id int, word string, max_edits int"
        )
        parts.append(
            terms_tbl.crossJoin(F.broadcast(fb))
            .filter(verify).select("word_id", "term")
        )
    out: dict[int, list[str]] = {int(w): [] for w, _, _ in words}
    if parts:
        from functools import reduce

        allparts = reduce(DataFrame.unionByName, parts)
        for r in allparts.collect():
            out[int(r["word_id"])].append(r["term"])
    for wid in out:
        out[wid].sort()
    return out


def _docs_of_terms_shard(pdf: pd.DataFrame, terms: list[str]) -> pd.DataFrame:
    """Primary-index shard rows → distinct docids holding ANY given term."""
    per_term, _ = _term_handles(pdf)
    dels = DelIndex.from_pdf(pdf)
    parts = []
    for t in terms:
        for s in per_term.get(t, []):
            ids = decode_postings(s.pbuf)[0]
            if dels:
                ids = ids[dels.keep_mask(s.gen, ids)]
            parts.append(ids)
    ids = (np.unique(np.concatenate(parts)) if parts
           else np.zeros(0, np.int64))
    return pd.DataFrame({"docid": ids})


MAX_FUZZY_TERMS = 4096


def prefix_terms(
    spark: SparkSession, index_dir: str, prefix: str,
    analyzer: str | None = None, max_terms: int = MAX_FUZZY_TERMS,
) -> DataFrame:
    """(term, df): vocabulary terms starting with the analyzed prefix —
    the dictionary seek behind wildcard queries (``spark*``).

    Reads the index's global ``termstats`` table with a pushed-down
    ``StartsWith`` filter; termstats is written term-sorted within each
    partition, so parquet row-group min/max zone maps cut the range scan
    to a few row groups per file — a dictionary-scale range probe, the
    reference's sorted-key seek (`utils/index/MMapBBIndex.java:27-54`)
    in parquet form. No gram layout needed. Fielded indexes store
    composite ``field␟term`` stats; matches are the DISTINCT BASE terms
    (a prefix matches regardless of field), df summed across fields (an
    upper bound, informational only — consumers decode exact postings).

    ``max_terms`` caps the expansion (ValueError beyond it) so a
    too-short prefix fails loudly instead of fanning a vocabulary-sized
    term list into downstream joins."""
    with open(f"{index_dir}/build.json") as f:
        params = json.load(f)
    an = get_analyzer(analyzer or params.get("analyzer", "default"))
    toks = an.py_tokenize(prefix)
    if len(toks) != 1:
        raise ValueError(
            f"prefix must analyze to one token; {prefix!r} → {toks}"
        )
    p = toks[0]
    ts = spimi.load_termstats(spark, index_dir)
    if params.get("fields"):
        ts = (
            ts.select(
                F.split(F.col("term"), spimi.FIELD_SEP, 2).getItem(1)
                .alias("term"),
                "df",
            )
            .filter(F.col("term").startswith(p))
            .groupBy("term").agg(F.sum("df").alias("df"))
        )
    else:
        ts = ts.filter(F.col("term").startswith(p)).select("term", "df")
    out = ts.limit(max_terms + 1).collect()
    if len(out) > max_terms:
        raise ValueError(
            f"prefix {p!r} matches > {max_terms} vocabulary terms; "
            "use a longer prefix"
        )
    return local_frame(spark, out, "term string, df long")


def prefix_terms_batch(
    spark: SparkSession, index_dir: str, prefixes: list[tuple[int, str]],
    analyzer: str | None = None, max_terms: int = MAX_FUZZY_TERMS,
) -> dict[int, list[str]]:
    """{prefix_id: [vocabulary terms]} for a BATCH of prefix lookups in
    ONE Spark job — the front door's wildcard-expansion path (round-5
    verdict item #4: N prefix leaves used to run N range-probe jobs).
    Each prefix keeps its own pushed-down ``StartsWith`` range scan and
    its own ``max_terms`` cap (per-subquery LIMIT); the subqueries union
    into a single job."""
    from functools import reduce

    with open(f"{index_dir}/build.json") as f:
        params = json.load(f)
    an = get_analyzer(analyzer or params.get("analyzer", "default"))
    norm: list[tuple[int, str]] = []
    for pid, prefix in prefixes:
        toks = an.py_tokenize(prefix)
        if len(toks) != 1:
            raise ValueError(
                f"prefix must analyze to one token; {prefix!r} → {toks}"
            )
        norm.append((int(pid), toks[0]))
    ts = spimi.load_termstats(spark, index_dir)
    fields = params.get("fields")
    parts = []
    for pid, p in norm:
        if fields:
            sub = (
                ts.select(
                    F.split(F.col("term"), spimi.FIELD_SEP, 2).getItem(1)
                    .alias("term")
                )
                .filter(F.col("term").startswith(p))
                .distinct()
            )
        else:
            sub = ts.filter(F.col("term").startswith(p)).select("term")
        parts.append(
            sub.select(F.lit(pid).cast("int").alias("pid"), "term")
            .limit(max_terms + 1)
        )
    out: dict[int, list[str]] = {pid: [] for pid, _ in norm}
    for r in reduce(DataFrame.unionByName, parts).collect():
        out[int(r["pid"])].append(r["term"])
    by_pid = dict(norm)
    for pid, terms in out.items():
        if len(terms) > max_terms:
            raise ValueError(
                f"prefix {by_pid[pid]!r} matches > {max_terms} vocabulary "
                "terms; use a longer prefix"
            )
        terms.sort()
    return out


def suggest_terms(
    spark: SparkSession, fuzzy_dir: str, word: str, n: int = 5,
    max_edits: int = 2,
) -> DataFrame:
    """(term, df, dist): did-you-mean suggestions — vocabulary terms
    within Levenshtein distance ≤ ``max_edits`` of the (single-token)
    analyzed word, ranked (distance asc, df desc, term asc), top ``n``.

    Rides :func:`fuzzy_terms_edit`'s gram-count candidate bound, so the
    dictionary is probed, not scanned (short-word fallback documented
    there); the survivor set is ≤ vocabulary-scale and the top-n is a
    TakeOrdered, never a global sort."""
    with open(f"{fuzzy_dir}/layout.json") as f:
        meta = json.load(f)
    w = get_analyzer(meta["base_analyzer"]).py_tokenize(word)
    if len(w) != 1:
        raise ValueError(f"suggest takes a single-token word; {word!r} → {w}")
    cands = fuzzy_terms_edit(spark, fuzzy_dir, word, max_edits)
    return (
        cands.select(
            "term", "df",
            F.levenshtein(F.col("term"), F.lit(w[0])).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("df").desc(),
                 F.col("term").asc())
        .limit(n)
    )


def fuzzy_docs(
    spark: SparkSession, fuzzy_dir: str, index_dir: str, fragment: str,
    bidirectional: bool = False, allow_stale: bool = False,
    max_edits: int | None = None,
) -> DataFrame:
    """(docid): documents containing any vocabulary term that matches the
    fragment — gram-index candidates → exact verify → primary-index posting
    fan-in. The corpus itself is never scanned; docids are shard-disjoint so
    no global distinct is needed.

    ``max_edits`` switches the term matcher from containment to Levenshtein
    distance ≤ max_edits (typo tolerance — :func:`fuzzy_terms_edit`);
    ``bidirectional`` then has no effect.

    The matched-term list rides the driver (same as every query's term list
    — pruning needs literal ``In(term, …)``); MAX_FUZZY_TERMS guards
    against degenerate fragments matching half the dictionary.

    Staleness: if the primary index committed NEW posting generations
    after the layout was built, their vocabulary is absent from the gram
    index and fuzzy recall silently shrinks — that's an error here unless
    ``allow_stale=True``. Dels-only generations never stale the layout
    (the fan-in masks tombstones)."""
    with open(f"{fuzzy_dir}/layout.json") as f:
        meta = json.load(f)
    built_gens = meta.get("source_generations")
    if built_gens is not None and not allow_stale:
        new = sorted(set(_posting_generations(index_dir)) - set(built_gens))
        if new:
            raise ValueError(
                f"fuzzy layout {fuzzy_dir} is STALE: primary index "
                f"committed posting generations {new} after the layout was "
                "built (their vocabulary is missing from the gram index). "
                "Rebuild with build_fuzzy_layout, or pass allow_stale=True "
                "to serve with reduced recall."
            )
    term_df = (
        fuzzy_terms_edit(spark, fuzzy_dir, fragment, max_edits)
        if max_edits is not None
        else fuzzy_terms(spark, fuzzy_dir, fragment, bidirectional)
    )
    matched = [r["term"] for r in term_df.select("term").collect()]
    if len(matched) > MAX_FUZZY_TERMS:
        raise ValueError(
            f"fragment {fragment!r} matches {len(matched)} terms "
            f"(> {MAX_FUZZY_TERMS}); refine the fragment"
        )
    if not matched:
        return local_frame(spark, [], "docid long")
    if meta.get("fields"):
        # fielded primary index: postings are composite field\x1fterm —
        # a matched base term fans in from EVERY field's composite row
        matched = [f + spimi.FIELD_SEP + t
                   for f in meta["fields"] for t in matched]
    seg = spimi.committed_segments(spark, index_dir)
    relevant = seg.filter(
        ((F.col("kind") == "post") & F.col("term").isin(matched))
        | (F.col("kind") == "dels")
    )
    return relevant.groupBy("shard").applyInPandas(
        lambda p: _docs_of_terms_shard(p, matched), "docid long"
    )
