"""Term-partitioned secondary layout: analytical term scans, index-backed
boolean retrieval, and BM25 top-k served from O(query terms) buckets.

The primary index is DOC-sharded (spimi.py) — ideal for scoring, wrong for
term-centric access (a term's postings are spread over every shard and
generation). This module materializes the orthogonal layout the reference
keeps as sorted per-key side indexes for point lookups
(`utils/index/MMapBBIndex.java:27-54`, the `BinaryIndex` probe pattern):
one row per term holding its fully-merged posting list, hash-partitioned
into ``bucket = xxhash64(term) % n_buckets`` parquet partitions.

Scale shape of the build: ONE shuffle of already-compressed posting bytes
grouped by term-hash bucket (NOT by raw term — the per-bucket reducer
handles many terms vectorized, so a hot term never owns a reduce task by
itself beyond its own bytes). The merge (:func:`_merge_bucket`) is ONE
columnar numpy pass per bucket: grouped decode of every row's streams →
tombstone mask → one (term, docid) lexsort → grouped re-encode of every
term run, so its cost is per posting, not per term, and its per-task
memory is one bucket's decoded columns. Layout-v3 sources
(``build_index(..., doclens=True)``) already carry a per-posting doclen
stream next to the posting bytes, so the build is a narrow select
straight into that shuffle; v2 sources first run a map stage grouped by
SHARD that resolves each posting's doclen from the shard's own doc table (doclens stay shard-local — no doclen shuffle,
no per-task memory beyond one shard). Readers prune by partition (bucket)
AND parquet min/max on term, so a lookup of k terms touches ≤ k buckets'
row groups — query cost scales with the QUERY's terms, not the corpus's
shards.

Doclens ride term-side (a plain varbyte stream aligned with the posting
order) so BM25 scoring from this layout needs no doclen join at query
time; block metadata (max_tf/min_dl) is re-derived at merge, enabling
bound-based pruning later. Fielded (BM25F) sources bucket their composite
``field\\x1fterm`` rows by BASE term, so every field's postings for a term
co-locate in one bucket; built from a ``doclens=True`` (v3) source each
composite row carries its per-FIELD doclen stream and :func:`bm25f_topk`
serves ranked multi-field queries from the layout alone — fielded v2
sources still build (term scans only, no ranked serving).

Tombstones: committed 'dels' generations are applied during the merge
(df/cf recomputed from surviving postings), so the layout is an exact
snapshot of the visible corpus at build time. Serving refuses a STALE
snapshot — and here staleness covers ALL post-build generations,
INCLUDING dels-only ones: unlike the fuzzy layout (whose posting fan-in
masks tombstones at read), this layout serves merged postings directly,
so a post-build delete would silently resurrect docs. Layout dirs are
immutable snapshots: :func:`refresh_term_layout` writes a NEW directory
by rebuilding at the old layout's shape (a refresh is a rebuild — the
merge's cost is per posting whatever rows feed it), and the old one
stays valid for ``allow_stale`` readers.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bm25 import rank_topk
from ..session import local_frame
from .codec import (
    DelIndex,
    _varbyte_decode,
    _varbyte_decode_grouped,
    _varbyte_encode,
    decode_postings,
    decode_postings_grouped,
)
from .positional import near_n_slots, near_slots, phrase_slots
from .scoring import (
    bm25_contrib,
    bm25_norm,
    bm25f_contrib,
    bm25f_weight,
    idf,
    rank_margin,
    term_bound,
)

TERM_LAYOUT_SCHEMA = (
    "bucket int, term string, df long, cf long, "
    "postings binary, blockmeta binary, doclens binary, positions binary"
)

STAGE1_SCHEMA = (
    "kind string, term string, gen int, postings binary, doclens binary, "
    "positions binary"
)


def term_bucket_expr(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def _base_bucket_expr(term_col, n_buckets: int):
    """Bucket of a composite ``field\\x1fterm`` row = hash of its BASE term,
    so every field's postings for a term co-locate in ONE bucket — the
    locality BM25F serving needs (tfw sums across fields before the
    nonlinear saturation). Plain terms hash identically (no separator)."""
    from .spimi import FIELD_SEP

    return term_bucket_expr(F.substring_index(term_col, FIELD_SEP, -1),
                            n_buckets)


# below this many replicated doc-table bytes the bucket shuffle absorbs
# them for free and skipping the resolve stage is a pure win (one fewer
# exchange + no per-posting Python resolve pass); env-overridable
REPLICATE_DOCS_FLOOR = int(
    os.environ.get("SPARK_GRAFT_REPLICATE_DOCS_FLOOR", str(64 * 1024 * 1024))
)


def _docs_replication_ok(index_dir: str, n_buckets: int) -> bool:
    """Cost gate for ``_layout_input_rows(replicate_docs=...)`` — a
    driver-side manifest read. Replicating every shard's kind='docs'
    table to all buckets costs ~ n_buckets × 8 B × n_docs extra shuffle
    bytes (8 B/doc upper-bounds the packed varbyte docid+doclen pair);
    the shard-group resolve stage instead pays an EXTRA exchange that
    re-shuffles ALL segment bytes (postings + positions) once, plus a
    per-posting Python decode pass. Replicate when the replication bytes
    are at most max(segment bytes, REPLICATE_DOCS_FLOOR): below the
    floor the resolve stage's fixed stage/exchange cost dominates any
    byte accounting, above it the byte comparison decides — at typical
    doc sizes replication holds up to n_buckets ≈ bytes-per-doc/8, and
    beyond that the resolve stage's proportional shuffle is the cheaper
    shape."""
    import pyarrow.parquet as pq

    man = f"{index_dir}/manifest"
    if not os.path.isdir(man):
        return False
    t = pq.read_table(man, columns=["n_docs", "n_bytes"])
    tot_docs = sum(t["n_docs"].to_pylist())
    tot_bytes = sum(t["n_bytes"].to_pylist())
    return n_buckets * 8 * tot_docs <= max(tot_bytes, REPLICATE_DOCS_FLOOR)


def _resolve_doclens_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    """One SHARD's committed rows → its post rows with a per-posting doclen
    stream resolved from the shard's own doc tables (latest generation
    wins, matching wand._doc_meta). Map-stage: posting bytes pass through
    untouched; per-task memory is one shard's doc table."""
    from .wand import _doc_meta

    docs_rows = pdf[pdf["kind"] == "docs"]
    posts = pdf[pdf["kind"] == "post"]
    cols = ["kind", "term", "gen", "postings", "doclens", "positions"]
    if posts.empty or docs_rows.empty:
        return pd.DataFrame(columns=cols).astype({"gen": "int32"})
    all_ids, all_lens = _doc_meta(docs_rows)
    has_gen = "gen" in pdf.columns
    has_pos = "positions" in pdf.columns
    out = []
    for r in posts.itertuples():
        ids, _ = decode_postings(r.postings)
        dls = _doclens_from_docs(all_ids, all_lens, ids)
        out.append((
            "post", r.term, int(r.gen) if has_gen else 0, r.postings,
            _varbyte_encode(dls.astype(np.uint64)),
            r.positions if has_pos else b"",
        ))
    res = pd.DataFrame(out, columns=cols)
    return res.astype({"gen": "int32"})


def _doclens_from_docs(all_ids: np.ndarray, all_lens: np.ndarray,
                       ids: np.ndarray) -> np.ndarray:
    """Doclen of every docid in ``ids`` from a merged doc table (sorted
    ``all_ids``, see wand._doc_meta). A docid the table lacks is a wiring
    bug, never a neighbour's doclen."""
    idx = np.searchsorted(all_ids, ids)
    found = idx < len(all_ids)
    found[found] = all_ids[idx[found]] == ids[found]
    if not found.all():
        raise ValueError(
            f"{int((~found).sum())} posting docid(s) absent from the doc "
            "tables — doclen source missing (build wiring bug)"
        )
    return all_lens[idx]


def _merge_bucket(pdf: pd.DataFrame, with_doclens: bool,
                  with_positions: bool = False) -> pd.DataFrame:
    """One bucket's segment rows → one merged row per term, in ONE
    columnar pass over the whole bucket (no per-term Python):

    1. decode every post row's postings, doclens and positions with one
       grouped codec call each, into flat per-posting columns tagged with
       the row's term code and generation;
    2. drop tombstoned postings — generation-ordered (a del masks only
       older generations — see codec.DelIndex), one ``keep_mask`` per
       distinct generation, so re-added docids keep their newest postings;
    3. ``lexsort`` by (term, docid) once, reordering positions runs with
       one ``gather_runs``; a docid seen twice under one term is an error;
    4. cut term runs where the term code changes and re-encode every term
       with one grouped call per stream.

    Doclens per posting come from the row's own varbyte stream when
    present (v3 sources); post rows WITHOUT a stream resolve against the
    bucket's replicated kind='docs' tables (latest generation wins — see
    _layout_input_rows ``replicate_docs``), exactly the values the
    shard-group resolve stage would have attached. The merged positions
    blob stays BLOCK-aligned with the merged postings, so the
    block-selective decode phrase serving relies on works on layout rows
    exactly as on segment rows.

    Per-task memory is one bucket's decoded columns (docids, tfs, doclens,
    term codes, and positions when merged). Output is ordered by term and
    equals a per-term merge byte for byte."""
    from .codec import (
        _varbyte_decode_grouped,
        _varbyte_encode_offsets,
        decode_positions_grouped,
        decode_postings_grouped,
        encode_blocks_grouped,
        encode_positions_grouped,
        gather_runs,
    )
    from .wand import _doc_meta

    bucket = int(pdf["bucket"].to_numpy()[0])
    posts = pdf[pdf["kind"] == "post"]
    terms, row_code = np.unique(posts["term"].to_numpy(dtype=object),
                                return_inverse=True)
    ids, tfs, counts = decode_postings_grouped(posts["postings"].tolist())
    tfs = tfs.astype(np.int64)
    code = np.repeat(row_code, counts)
    if with_doclens:
        vals, n_dl = _varbyte_decode_grouped(posts["doclens"].tolist())
        has = n_dl > 0
        if not np.array_equal(n_dl[has], counts[has]):
            raise ValueError("doclen stream length does not match postings")
        dls = np.empty(len(ids), dtype=np.int64)
        from_stream = np.repeat(has, counts)
        dls[from_stream] = vals
        if not from_stream.all():
            docs_rows = pdf[pdf["kind"] == "docs"]
            if docs_rows.empty:
                raise ValueError(
                    "post row carries no doclen stream and the bucket "
                    "holds no replicated doc tables — doclen source "
                    "missing (build wiring bug)"
                )
            dls[~from_stream] = _doclens_from_docs(
                *_doc_meta(docs_rows), ids[~from_stream])
    else:
        dls = np.ones(len(ids), dtype=np.int64)
    flat = (decode_positions_grouped(posts["positions"].tolist(), tfs, counts)
            if with_positions else None)

    dels = DelIndex.from_pdf(pdf)
    if dels:
        gens = np.repeat(posts["gen"].to_numpy(dtype=np.int64), counts)
        keep = np.ones(len(ids), dtype=bool)
        for g in np.unique(gens):
            sel = gens == g
            keep[sel] = dels.keep_mask(g, ids[sel])
        if with_positions:
            flat = flat[np.repeat(keep, tfs)]
        ids, tfs, dls, code = ids[keep], tfs[keep], dls[keep], code[keep]

    order = np.lexsort((ids, code))
    if with_positions:
        flat = gather_runs(flat, tfs, order)
    ids, tfs, dls, code = ids[order], tfs[order], dls[order], code[order]
    if ((code[1:] == code[:-1]) & (ids[1:] <= ids[:-1])).any():
        raise ValueError("docids must be strictly increasing")

    # term runs; a bucket of only dels rows / fully-tombstoned terms has
    # none and yields the typed empty frame
    bounds = np.flatnonzero(np.diff(code, prepend=-1, append=-1))
    starts, ends = bounds[:-1], bounds[1:]
    postings, blockmeta = encode_blocks_grouped(ids, tfs, dls, starts, ends)
    if with_doclens:
        buf, val_ends = _varbyte_encode_offsets(dls.astype(np.uint64))
        raw = buf.tobytes()
        cut = np.concatenate([[0], val_ends])
        doclens = [raw[a:b] for a, b in zip(cut[starts].tolist(),
                                            cut[ends].tolist())]
    else:
        doclens = [b""] * len(starts)
    positions = (encode_positions_grouped(flat, tfs, starts, ends)
                 if with_positions else [b""] * len(starts))
    # blob columns stay object dtype when empty (a bare [] reads as float)
    return pd.DataFrame({
        "bucket": np.full(len(starts), bucket, dtype=np.int32),
        "term": terms[code[starts]],
        "df": ends - starts,
        "cf": np.add.reduceat(tfs, starts),
        "postings": pd.Series(postings, dtype=object),
        "blockmeta": pd.Series(blockmeta, dtype=object),
        "doclens": pd.Series(doclens, dtype=object),
        "positions": pd.Series(positions, dtype=object),
    })


def _layout_input_rows(
    spark: SparkSession, seg: DataFrame, n_buckets: int, with_doclens: bool,
    source_doclens: bool = False, fielded: bool = False,
    with_positions: bool = False, replicate_docs: bool = False,
) -> DataFrame:
    """Segment rows → merge-input rows (bucket, kind, term, postings,
    doclens, positions, gen): the doclen source for post rows plus dels
    rows replicated across every bucket (dels have term NULL — any term
    may hold deleted docids). ``fielded`` buckets composite terms by
    their BASE term (see _base_bucket_expr). ``with_positions`` carries
    the segments' positions stream into the merge; otherwise the column is
    emptied BEFORE the shuffle so a positional source never pays the
    positions bytes for a non-positional layout.

    v2 (stream-less) sources resolve doclens one of two ways, picked by
    the caller from MANIFEST stats (see _docs_replication_ok):
    ``replicate_docs=True`` ships the tiny kind='docs' tables to every
    bucket through the ONE existing shuffle (the dels pattern) and the
    merge resolves locally — no extra shuffle of posting bytes;
    ``replicate_docs=False`` keeps the shard-group resolve stage (right
    when n_buckets × doc-table bytes would exceed the segment bytes the
    resolve stage re-shuffles). Both attach identical doclens — the
    layout is byte-identical either way (test-pinned)."""
    pos_col = (F.col("positions") if with_positions
               else F.lit(None).cast("binary")).alias("positions")
    docs_all = False
    if with_doclens and source_doclens:
        # layout-v3 source (build_index(..., doclens=True)): the posting
        # bytes already travel with their per-posting doclen stream, so
        # the shard-group resolve stage — and its extra shuffle of all
        # posting bytes — is skipped entirely: ONE shuffle total (the
        # bucket groupBy), a straight narrow select before it.
        stage1 = seg.filter(F.col("kind") == "post").select(
            "kind", "term", "gen", "postings", "doclens", pos_col
        )
    elif with_doclens and replicate_docs:
        # v2 source, doc tables small per the manifest: posts pass
        # through unresolved (NULL doclens) and the shard doc tables ride
        # the SAME bucket shuffle to every bucket — _merge_bucket
        # resolves locally (latest-gen-wins, same values as the resolve
        # stage). One shuffle; the posting bytes move once. The docs rows
        # join the dels' existing replicate-to-every-bucket subtree below
        # (one scan + one broadcast-range join serves both kinds).
        stage1 = seg.filter(F.col("kind") == "post").select(
            "kind", "term", "gen", "postings",
            F.lit(None).cast("binary").alias("doclens"), pos_col,
        )
        docs_all = True
    elif with_doclens:
        pre = seg.filter(F.col("kind").isin(["post", "docs"]))
        if not with_positions:  # don't shuffle positions bytes we drop
            pre = pre.withColumn("positions", F.lit(None).cast("binary"))
        stage1 = (
            pre.groupBy("shard")
            .applyInPandas(_resolve_doclens_shard, STAGE1_SCHEMA)
        )
    else:  # fielded source: composite-term posts pass through, no doclens
        stage1 = seg.filter(F.col("kind") == "post").select(
            "kind", "term", "gen", "postings",
            F.lit(None).cast("binary").alias("doclens"), pos_col,
        )
    bucket_of = _base_bucket_expr if fielded else term_bucket_expr
    posts = stage1.select(
        bucket_of(F.col("term"), n_buckets).alias("bucket"),
        "kind", "term", "postings", "doclens", "positions", "gen",
    )
    repl_kinds = ["dels", "docs"] if docs_all else ["dels"]
    repl = seg.filter(F.col("kind").isin(repl_kinds)).select(
        "kind", "term", "postings",
        F.lit(None).cast("binary").alias("doclens"),
        F.lit(None).cast("binary").alias("positions"), "gen",
    )
    repl_all = repl.crossJoin(
        spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    )
    return posts.unionByName(
        repl_all.select("bucket", "kind", "term", "postings", "doclens",
                        "positions", "gen")
    )


def build_term_layout(
    spark: SparkSession, index_dir: str, out_dir: str, n_buckets: int = 64,
    positions: bool = False,
) -> None:
    """Materialize the term-partitioned layout from COMMITTED segments.

    Non-fielded sources additionally carry a term-side doclen stream
    (resolved shard-locally in a map stage before the bucket shuffle) plus
    corpus stats snapshotted into layout.json, enabling :func:`bm25_topk`
    to serve ranked queries from this layout alone.

    ``positions=True`` (source must be a positional, non-fielded index)
    additionally merges the per-term POSITIONS stream into the layout —
    ~1.5-2× the layout bytes, opt-in — enabling :func:`phrase_match` /
    :func:`near_match_n` to serve phrase/proximity point queries from
    O(query terms) buckets instead of fanning out to every doc shard."""
    from .spimi import committed_generations, committed_segments, load_stats

    with open(f"{index_dir}/build.json") as f:
        params = json.load(f)
    fielded = params.get("fields") is not None
    source_doclens = bool(params.get("doclens"))
    if positions and fielded:
        raise ValueError(
            "positional term layouts support non-fielded sources only "
            "(fielded phrase queries serve from the doc-sharded fielded "
            "index)"
        )
    if positions and not params.get("positions"):
        raise ValueError(
            "source index was built without positions — rebuild with "
            "build_index(..., positions=True) to carry positions into "
            "the term layout"
        )
    # fielded sources carry rankable doclens only when built with
    # doclens=True (the per-FIELD stream, layout v3); non-fielded v2
    # sources resolve doclens in the shard-group map stage
    with_doclens = source_doclens if fielded else True
    replicate = (with_doclens and not source_doclens and not fielded
                 and _docs_replication_ok(index_dir, n_buckets))
    seg = committed_segments(spark, index_dir)
    allrows = _layout_input_rows(spark, seg, n_buckets, with_doclens,
                                 source_doclens, fielded, positions,
                                 replicate_docs=replicate)
    merged = allrows.groupBy("bucket").applyInPandas(
        lambda pdf: _merge_bucket(pdf, with_doclens, positions),
        TERM_LAYOUT_SCHEMA,
    )
    from .spimi import group_parallelism

    with group_parallelism(spark, n_buckets):
        merged.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{out_dir}/terms"
        )
    # source_index is stored relative to the layout dir, so an index and
    # its layout move together and the layout's bytes do not depend on
    # where they live; _load_meta resolves it
    meta = {"n_buckets": n_buckets,
            "source_index": os.path.relpath(index_dir, out_dir),
            "analyzer": params.get("analyzer", "default"),
            "analyzer_version": params["analyzer_version"],
            "has_doclens": with_doclens,
            "has_positions": positions,
            "fielded": fielded,
            # lineage snapshot for the staleness check: ALL committed
            # generations, INCLUDING dels-only ones — unlike the fuzzy
            # layout (whose posting fan-in masks tombstones at read), this
            # layout serves merged postings directly, so a post-build
            # delete would otherwise silently resurrect deleted docs
            "source_generations": sorted(committed_generations(index_dir))}
    if with_doclens:
        stats = load_stats(index_dir)
        meta["n_docs"] = stats["n_docs"]
        if fielded:  # BM25F stats: per-field totals → avglen_f at serve
            meta["fields"] = sorted(params["fields"])
            meta["field_totals"] = stats["field_totals"]
        else:
            meta["avgdl"] = stats["avgdl"]
    tmp = f"{out_dir}/.layout.json.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, f"{out_dir}/layout.json")


def _load_meta(layout_dir: str) -> dict:
    """layout.json is the COMMIT POINT (written atomically after the terms
    table lands): its absence means no layout or a build that died before
    committing — either way the partial data is invisible by design.
    ``source_index`` comes back as an absolute path: it is stored
    relative to the layout dir (a layout written before that stored it
    absolute, which joins to itself)."""
    try:
        with open(f"{layout_dir}/layout.json") as f:
            meta = json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"{layout_dir} has no layout.json — not a committed term "
            "layout (the atomic json write is the build's commit point; "
            "a killed build leaves no visible layout). Rebuild with "
            "build_term_layout."
        ) from None
    meta["source_index"] = os.path.normpath(os.path.join(
        os.path.abspath(layout_dir), meta["source_index"]))
    return meta


def _check_stale(meta: dict, allow_stale: bool) -> None:
    """Serving from a layout whose source index committed NEW generations
    after the build silently misses those postings — or, for dels-only
    generations, silently RESURRECTS deleted docs (this layout serves
    merged postings directly; there is no read-time tombstone mask) —
    refuse unless the caller opts in."""
    from .spimi import committed_generations

    built = meta.get("source_generations")
    if built is None or allow_stale:
        return
    new = sorted(
        set(committed_generations(meta["source_index"])) - set(built)
    )
    if new:
        raise ValueError(
            f"term layout is STALE: source index {meta['source_index']} "
            f"committed generations {new} after the layout was built "
            "(new postings would be missing; new deletes would be "
            "ignored). Rebuild with build_term_layout / refresh with "
            "refresh_term_layout, or pass allow_stale=True to serve the "
            "snapshot."
        )


def _buckets_for(spark: SparkSession, terms: list[str], n_buckets: int) -> list[int]:
    """Bucket ids of the query terms — pure driver arithmetic via the
    Python twin of Spark's xxhash64 (hashing.term_bucket; agreement with
    the JVM expression is property-tested). This used to run one tiny
    Spark job per pruned read; now it costs microseconds, which removes a
    whole job from EVERY layout query path. Composite ``field\\x1fterm``
    inputs hash by their base term (fielded layouts bucket by base; plain
    terms contain no separator, so the strip is the identity for them)."""
    from ..hashing import term_bucket
    from .spimi import FIELD_SEP

    return sorted({
        term_bucket(t.split(FIELD_SEP)[-1], n_buckets) for t in terms
    })


def _read_terms(spark: SparkSession, layout_dir: str) -> DataFrame:
    """The committed layout's terms table, read with its declared schema:
    a parquet read without one launches a 1-task schema-inference job
    every time. Every layout writer emits all TERM_LAYOUT_SCHEMA columns
    (a layout without positions holds empty position streams)."""
    return spark.read.schema(TERM_LAYOUT_SCHEMA).parquet(f"{layout_dir}/terms")


def _bucket_files(layout_dir: str, meta: dict,
                  terms: list[str]) -> list[tuple[str, int]]:
    """(path, bytes) of the parquet files in the hash buckets of
    ``terms`` — the one driver-side listing a layout read makes: the
    driver probes read these files and _pruned_rows sizes its scan by
    their bytes."""
    files: list[tuple[str, int]] = []
    for b in _buckets_for(None, terms, meta["n_buckets"]):
        d = f"{layout_dir}/terms/bucket={b}"
        if not os.path.isdir(d):
            continue
        for e in sorted(os.scandir(d), key=lambda e: e.name):
            if e.name.endswith(".parquet"):
                files.append((e.path, e.stat().st_size))
    return files


def _pruned_rows(
    spark: SparkSession, layout_dir: str, meta: dict, terms: list[str],
    files: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Layout rows of ``terms``: bucket partition pruning plus parquet
    min/max pruning on term. Composite ``field\\x1fterm`` inputs prune by
    their base term's bucket (see _buckets_for).

    The scan runs in max(1, ceil(Σ touched file bytes /
    spark.sql.files.maxPartitionBytes)) partitions (a coalesce, so never
    more than the file splits). The session's split rule (openCost =
    maxPartitionBytes, sized for the analyzer's CPU-bound input) would
    give every small bucket file its own task, and every mapInPandas over
    these rows would then start one Python task, ~0.2 CPU s fixed, per
    file; sized by bytes, tiny buckets share one task while a large
    bucket keeps its row-group splits. ``files``: the caller's
    _bucket_files listing of the same terms, when it already made one."""
    if files is None:
        files = _bucket_files(layout_dir, meta, terms)
    buckets = _buckets_for(spark, terms, meta["n_buckets"])
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n_parts = max(1, -(-sum(size for _, size in files) // split))
    return (
        _read_terms(spark, layout_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .coalesce(n_parts)
    )


def term_postings(
    spark: SparkSession, layout_dir: str, terms: list[str],
    allow_stale: bool = False,
) -> DataFrame:
    """(term, docid, tf) for the given terms — partition-pruned (bucket) and
    min/max-pruned (term) scan of the merged layout, one grouped decode
    per Arrow batch. Refuses a stale snapshot unless ``allow_stale`` (see
    _check_stale)."""
    meta = _load_meta(layout_dir)
    _check_stale(meta, allow_stale)
    rows = _pruned_rows(spark, layout_dir, meta, terms).select(
        "term", "postings")

    def decode(iterator):
        for pdf in iterator:
            ids, tfs, counts = decode_postings_grouped(
                pdf["postings"].tolist())
            yield pd.DataFrame({
                "term": np.repeat(pdf["term"].to_numpy(dtype=object), counts),
                "docid": ids, "tf": tfs})

    return rows.mapInPandas(decode, "term string, docid long, tf int")


def boolean_and(
    spark: SparkSession, layout_dir: str, query: str,
    allow_stale: bool = False,
) -> DataFrame:
    """(docid): conjunctive retrieval served from the term layout — docs
    containing EVERY analyzed query term."""
    from ..analyzer import get_analyzer

    meta = _load_meta(layout_dir)
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    terms = sorted(set(tokenize(query)))
    if not terms:
        raise ValueError("empty query after analysis")
    tp = term_postings(spark, layout_dir, terms, allow_stale=allow_stale)
    return (
        tp.groupBy("docid")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("docid")
    )


# a term is "expensive" (stopword-class) for the candidate-pruned serving
# path when its df exceeds max(this floor, EXPENSIVE_DF_FRACTION·n_docs)
EXPENSIVE_DF_FLOOR = 1_000_000
EXPENSIVE_DF_FRACTION = 0.05
# candidate docid sets ride the driver/closure; queries whose cheap-term
# df sum exceeds this cap fall back to the full scan (disclosed trade-off)
CANDIDATE_CAP = 2_000_000


def _contrib_batch(
    pdf: pd.DataFrame,
    qids_by_term: dict[str, list[int]],
    idf_by_term: dict[str, float],
    avgdl: float,
    cand_by_qid: dict[int, np.ndarray],
    restrict: set[tuple[int, str]],
    weights: dict[tuple[int, str], float],
) -> pd.DataFrame:
    """One Arrow batch of layout rows (term, postings, doclens) → its
    (query_id, docid, contrib) rows: one grouped decode of the subscribed
    rows, one kernel call, and the (row, query) subscriptions fanned out
    with ``np.repeat`` in (row, subscriber) order — each query's
    contributions keep their scan-row order, so Spark's ``sum`` adds them
    in that order."""
    pdf = pdf[pdf["term"].isin(list(qids_by_term))]
    terms = pdf["term"].tolist()
    ids, tfs, counts = decode_postings_grouped(pdf["postings"].tolist())
    dls, n_dls = _varbyte_decode_grouped(pdf["doclens"].tolist())
    if not np.array_equal(n_dls, counts):
        raise ValueError("layout doclens out of step with postings")
    contrib = bm25_contrib(
        np.repeat([idf_by_term[t] for t in terms], counts),
        tfs.astype(np.float64), bm25_norm(dls.astype(np.float64), avgdl))
    subs = [(row, qid) for row, t in enumerate(terms)
            for qid in qids_by_term[t]]
    sub_row = np.array([r for r, _ in subs], np.int64)
    n_out = counts[sub_row]
    out_at = np.cumsum(n_out) - n_out
    # posting index of every emitted row: its row's postings, per subscriber
    idx = np.arange(int(n_out.sum()), dtype=np.int64) + np.repeat(
        (np.cumsum(counts) - counts)[sub_row] - out_at, n_out)
    docid = ids[idx]
    keep = np.ones(len(idx), bool)
    for (row, qid), lo, n in zip(subs, out_at, n_out):
        if (qid, terms[row]) in restrict:
            cand = cand_by_qid[qid]
            pos = np.searchsorted(cand, docid[lo:lo + n])
            keep[lo:lo + n] = (pos < len(cand)) & (
                cand[np.minimum(pos, len(cand) - 1)] == docid[lo:lo + n])
    # boosts multiply their contributions (x * 1.0 is exact)
    w = np.repeat([weights.get((q, terms[r]), 1.0) for r, q in subs], n_out)
    return pd.DataFrame({
        "query_id": np.repeat(np.array([q for _, q in subs], np.int32),
                              n_out)[keep],
        "docid": docid[keep],
        "contrib": (contrib[idx] * w)[keep],
    })


def _contrib_rows(
    rows: DataFrame,
    qids_by_term: dict[str, list[int]],
    idf_by_term: dict[str, float],
    avgdl: float,
    cand_by_qid: dict[int, np.ndarray] | None = None,
    restrict: set[tuple[int, str]] | None = None,
    weights: dict[tuple[int, str], float] | None = None,
) -> DataFrame:
    """(query_id, docid, contrib): PRE-aggregation exact BM25 term
    contributions for the subscribed (query, term) pairs, one
    :func:`_contrib_batch` per Arrow batch. ``restrict`` marks (qid,
    term) pairs whose postings are emitted ONLY for docids in
    ``cand_by_qid[qid]`` (the MaxScore candidate gate); unrestricted
    pairs emit everything. ``weights``: per-(query, term) multiplier on
    the BM25 contribution (term boosts; missing = 1.0)."""
    args = (qids_by_term, idf_by_term, avgdl, cand_by_qid or {},
            restrict or set(), weights or {})

    def score_fn(iterator):
        for pdf in iterator:
            yield _contrib_batch(pdf, *args)

    return rows.select("term", "postings", "doclens").mapInPandas(
        score_fn, "query_id int, docid long, contrib double"
    )


def _scored_rows(
    rows: DataFrame,
    qids_by_term: dict[str, list[int]],
    idf_by_term: dict[str, float],
    avgdl: float,
    cand_by_qid: dict[int, np.ndarray] | None = None,
    restrict: set[tuple[int, str]] | None = None,
    with_count: bool = False,
    weights: dict[tuple[int, str], float] | None = None,
    mask_parts: list[DataFrame] | None = None,
    mask_pred=None,
) -> DataFrame:
    """(query_id, docid, score[, nt]): exact BM25 sums for the subscribed
    (query, term) pairs (see :func:`_contrib_rows` for the gate/boost
    parameters).

    ``mask_parts``/``mask_pred`` (the FUSED front-door tail): boolean-mask
    bit rows (query_id, docid, mask) union with the contrib rows into the
    SAME groupBy(query_id, docid), and the tree predicate filters the
    aggregate directly — one shuffle instead of the old two aggregations
    plus a semi-join. Exactness: mask rows carry NULL contrib and ``sum``
    skips NULLs, so scores are bit-identical to the unfused path; docs
    matching the tree with NO subscribed-term contribution (phrase-only
    matches) aggregate to a NULL score and are dropped by ``score IS NOT
    NULL`` — exactly the docs the old semi-join never saw on the scored
    side."""
    return _summed(_contrib_rows(rows, qids_by_term, idf_by_term, avgdl,
                                 cand_by_qid, restrict, weights),
                   mask_parts, mask_pred, with_count)


def _summed(contribs: DataFrame, mask_parts: list[DataFrame] | None,
            mask_pred, with_count: bool = False) -> DataFrame:
    """(query_id, docid, score[, nt]): per-(query, doc) sums of
    (query_id, docid, contrib) rows, fused with the front-door mask rows
    when ``mask_parts`` is given (see :func:`_scored_rows`)."""
    from functools import reduce as _reduce

    if mask_parts:
        assert not with_count and mask_pred is not None
        mrows = _reduce(DataFrame.unionByName, mask_parts).select(
            "query_id", "docid", "mask"
        )
        combined = contribs.select(
            "query_id", "docid", F.lit(0).cast("long").alias("mask"),
            "contrib",
        ).unionByName(mrows.select(
            "query_id", "docid", "mask",
            F.lit(None).cast("double").alias("contrib"),
        ))
        agg = combined.groupBy("query_id", "docid").agg(
            F.expr("bit_or(mask)").alias("mask"),
            F.sum("contrib").alias("score"),
        )
        return (agg.filter(mask_pred & F.col("score").isNotNull())
                .select("query_id", "docid", "score"))
    scored = contribs.groupBy("query_id", "docid")
    if with_count:
        return scored.agg(F.sum("contrib").alias("score"),
                          F.count(F.lit(1)).alias("nt"))
    return scored.agg(F.sum("contrib").alias("score"))


def bm25_topk(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    round_to: int | None = 4,
    allow_stale: bool = False,
    expensive_df: int | None = None,
    filter_by: DataFrame | None = None,
    qweights: dict[int, dict[str, float]] | None = None,
    mask_parts: list[DataFrame] | None = None,
    mask_pred=None,
) -> DataFrame:
    """(query_id, rank, docid, score): BM25 top-k served from the TERM-
    partitioned layout — the low-latency point-query path at corpus scale.
    The scan touches ONLY the query terms' hash buckets (PartitionFilters)
    and row groups (parquet min/max on term); the doc-sharded segments are
    never read. Doclens ride term-side in the layout (resolved
    shard-locally at build), so scoring needs no doclen join.

    This is the engine role of the reference's sorted per-key side indexes
    (`utils/index/MMapBBIndex.java:27-54`): a point lookup probes its keys'
    pages, not every stripe. At 10^12 docs a query here costs O(its terms'
    buckets), where the doc-sharded WAND path fans out to all shards.

    Scale shape: per-term score contributions are computed vectorized
    inside the pruned scan tasks; the shuffle carries (query_id, docid,
    contrib) rows with map-side partial sums, and the merge is the
    group-limited top-k window (WindowGroupLimit). Without pruning that
    shuffle is bounded by Σ df(query terms) — dominated by stopword-class
    terms at corpus scale — so a MaxScore CANDIDATE GATE engages per
    query when it has both cheap and expensive (df > ``expensive_df``,
    default max(1M, 5% of corpus)) terms:

    1. cheap-only scoring establishes θ₀ = the k-th best partial score
       (a lower bound on the final k-th best, since scores only grow);
    2. a doc holding ONLY expensive terms scores ≤ Σ idf_t·(K1+1) over
       the query's expensive terms (``scoring.term_bound``: tfnorm < K1+1
       always) — when that bound < θ₀ − ``scoring.rank_margin`` (two
       rounding ulps of slack), such docs provably cannot enter or tie
       the top-k;
    3. the expensive terms' postings are then emitted ONLY for the
       cheap-term candidate docs (sorted-array gate inside the scan
       task), collapsing the stopword's df-sized emission to the
       candidate count, which is ≤ Σ cheap df ≤ CANDIDATE_CAP.

    Every emitted doc still receives its EXACT full score (all terms),
    so results are hash-identical to the ungated path — pinned by a
    forced-threshold equality test. Queries where the bound fails, with
    no cheap terms, or over the candidate cap fall back to the full scan
    (per query, within the same jobs).

    Stats (n_docs, avgdl) and df are the layout's build-time snapshot,
    consistent with its merged, tombstone-applied postings; staleness vs
    the source index is checked (``allow_stale`` opts out).

    Ranking contract: (rounded score desc, docid asc), scores rounded to
    ``round_to`` — rank-identical to wand.topk / the exact scorer on a
    current layout.

    ``filter_by`` (a one-column docid DataFrame, e.g. from
    `query.match_layout`) restricts results to its docids BEFORE the
    top-k cut — filtered search, one semi-join on the already-shuffled
    scored rows. The candidate gate stays sound under a filter because
    phase-1 cheap scoring is filtered too: θ₀ is then the k-th best
    partial score among FILTERED docs, so a filtered doc holding only
    expensive terms is excluded by the same bound argument, and every
    emitted survivor still receives its exact full score.

    ``qweights``: per-query term boosts ({qid: {term: w}}, missing = 1.0)
    — each term's contribution is multiplied by its weight in BOTH gating
    phases and the final score, so the gate's bound argument holds
    verbatim with weighted idf upper bounds. ``mask_parts``/``mask_pred``:
    the fused front-door filter (see _scored_rows) — applied in BOTH the
    gating phase and the final job, so θ₀ is the k-th best partial among
    tree-matching docs and the gate stays exact, as with filter_by."""
    from ..analyzer import get_analyzer

    meta = _load_meta(layout_dir)
    if not meta.get("has_doclens"):
        raise ValueError(
            "layout was built without doclens (fielded source?) — "
            "bm25_topk needs a doclen-carrying layout"
        )
    if meta.get("fielded"):
        raise ValueError(
            "fielded layout: rows are composite (field, term) postings — "
            "use bm25f_topk for ranked serving"
        )
    _check_stale(meta, allow_stale)
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    qterms = {int(qid): sorted(set(tokenize(text))) for qid, text in queries}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        raise ValueError("no query terms")
    files = _bucket_files(layout_dir, meta, all_terms)
    rows = _pruned_rows(spark, layout_dir, meta, all_terms, files)

    # df per query term: a driver-side pyarrow probe of the same committed
    # bucket files — no metadata Spark job (see _term_meta_path)
    df_by_term = _term_meta_path(layout_dir, meta, all_terms, files)
    _check_qweights(qweights)

    assert not (mask_parts and filter_by is not None)
    # kwargs passed only when fusing — unfused calls keep the historical
    # _scored_rows signature (tests spy it)
    _mask_kw = ({"mask_parts": mask_parts, "mask_pred": mask_pred}
                if mask_parts else {})

    wts = {(int(qid), t): float(w)
           for qid, tw in (qweights or {}).items() for t, w in tw.items()
           if float(w) != 1.0}

    n_docs, avgdl = meta["n_docs"], meta["avgdl"]
    idf_by_term = {t: idf(n_docs, d) for t, d in df_by_term.items()}
    plans = [(qid, present) for qid, ts in qterms.items()
             if (present := [t for t in ts if t in idf_by_term])]
    if not plans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double"
        )
    qids_by_term, cand_by_qid, restrict = _maxscore_gate(
        plans, df_by_term,
        lambda qid, exp: sum(term_bound(wts.get((qid, t), 1.0)
                                        * idf_by_term[t]) for t in exp),
        lambda subs: _apply_filter(_scored_rows(
            rows, subs, idf_by_term, avgdl, weights=wts, **_mask_kw),
            filter_by),
        n_docs, k, round_to, expensive_df,
    )
    scored = _scored_rows(rows, qids_by_term, idf_by_term, avgdl,
                          cand_by_qid, restrict, weights=wts, **_mask_kw)
    return rank_topk(_apply_filter(scored, filter_by), k, round_to)


def _subscriptions(plans) -> dict[str, list[int]]:
    """{term: [query ids subscribing to it]} from [(qid, terms)], in plan
    order."""
    subs: dict[str, list[int]] = {}
    for qid, ts in plans:
        for t in ts:
            subs.setdefault(t, []).append(qid)
    return subs


def _maxscore_gate(plans, cost, bound, phase1, n_docs: int, k: int,
                   round_to: int | None, expensive_df: int | None):
    """The MaxScore candidate gate of the ranked layout paths →
    (qids_by_term, cand_by_qid, restrict) for the final scoring job.

    ``plans``: [(qid, present terms)]; ``cost[t]``: the rows term t
    decodes and emits (the cheap/expensive split, ``expensive_df``
    defaulting to max(1M, 5% of corpus), and the CANDIDATE_CAP check);
    ``bound(qid, exp)``: an upper bound on the score of a doc holding
    only the query's expensive terms ``exp``; ``phase1(subs)``: the
    (query_id, docid, score) partial scores of the subscriptions ``subs``
    with every filter applied.

    A query with cheap and expensive terms and Σ cheap cost ≤
    CANDIDATE_CAP scores its cheap terms first (one job for the batch):
    θ₀ = the k-th best partial score, a lower bound on the final k-th
    best. When bound < θ₀ − ``scoring.rank_margin``, a doc holding only
    expensive terms can neither enter nor tie the top-k, so the
    expensive terms emit only for the cheap candidates (``restrict``).
    Every other query scores all its terms ungated."""
    if expensive_df is None:
        expensive_df = max(EXPENSIVE_DF_FLOOR,
                           int(EXPENSIVE_DF_FRACTION * n_docs))
    margin = rank_margin(round_to)
    maybe = []      # (qid, present, cheap, exp) — gate candidates
    to_score = []   # (qid, present) — final-job subscriptions
    for qid, present in plans:
        cheap = [t for t in present if cost[t] <= expensive_df]
        exp = [t for t in present if cost[t] > expensive_df]
        if (not exp or not cheap
                or sum(cost[t] for t in cheap) > CANDIDATE_CAP):
            to_score.append((qid, present))
        else:
            maybe.append((qid, present, cheap, exp))

    cand_by_qid: dict[int, np.ndarray] = {}
    restrict: set[tuple[int, str]] = set()
    if maybe:
        # Arrow transfer + vectorized per-query partition: at the 2M-row
        # CANDIDATE_CAP this moves columnar batches instead of building
        # millions of Python Row objects
        p1 = phase1(_subscriptions(
            (qid, cheap) for qid, _, cheap, _ in maybe)).toPandas()
        qids_a = p1["query_id"].to_numpy()
        docs_a = p1["docid"].to_numpy(dtype=np.int64)
        scores_a = p1["score"].to_numpy(dtype=np.float64)
        for qid, present, cheap, exp in maybe:
            m = qids_a == qid
            got_docs, got_scores = docs_a[m], scores_a[m]
            theta0 = (np.partition(got_scores, -k)[-k]
                      if len(got_scores) >= k else -np.inf)
            if bound(qid, exp) < theta0 - margin:
                cand_by_qid[qid] = np.sort(got_docs)
                restrict.update((qid, t) for t in exp)
            else:  # bound can't exclude stopword-only docs → full scan
                to_score.append((qid, present))
        # gated queries score too — all their terms, expensive ones
        # candidate-restricted via `restrict`
        to_score.extend(
            (qid, present) for qid, present, _, _ in maybe
            if qid in cand_by_qid
        )
    return _subscriptions(to_score), cand_by_qid, restrict


def _check_qweights(qweights) -> None:
    """Boost weights must be strictly positive — the MaxScore gate's
    upper-bound argument (and BM25's monotonicity) assume non-negative
    contributions, and a zero weight should be expressed by dropping the
    term from the scoring subscription instead."""
    for qid, tw in (qweights or {}).items():
        for t, w in tw.items():
            if not (float(w) > 0.0):
                raise ValueError(
                    f"term weight must be > 0: query {qid} term {t!r} "
                    f"has {w}"
                )


def _apply_filter(df: DataFrame, filter_by: DataFrame | None) -> DataFrame:
    """Semi-join a filter onto scored rows (None: no filter). One docid
    column = one shared filter for every query; a (query_id, docid)
    filter (e.g. from `query.match_layout_batch`) restricts each query
    independently."""
    if filter_by is None:
        return df
    keys = (["query_id", "docid"] if "query_id" in filter_by.columns
            else ["docid"])
    return df.join(filter_by, keys, "left_semi")


def _scored_fielded(
    rows: DataFrame,
    qids_by_term: dict[str, list[int]],
    fields: list[str],
    boosts: dict[str, float],
    avglen: dict[str, float],
    n_docs: int,
    cand_by_qid: dict[int, np.ndarray] | None = None,
    restrict: set[tuple[int, str]] | None = None,
    mask_parts: list[DataFrame] | None = None,
    mask_pred=None,
) -> DataFrame:
    """(query_id, docid, score): exact BM25F partial sums for the
    subscribed (query, BASE-term) pairs, computed bucket-locally — all
    composites of a base term co-locate (_base_bucket_expr), so the
    cross-field tfw sum and the doc-level df (distinct docids across
    fields → idf) need no extra shuffle or job. ``restrict`` marks
    (qid, base term) pairs whose rows are EMITTED only for docids in
    ``cand_by_qid[qid]`` (the MaxScore candidate gate): the decode and
    the exact contrib still cover every posting — only the shuffle
    traffic shrinks — so emitted scores are exact by construction.
    ``mask_parts``/``mask_pred``: the fused front-door tail, with the
    exactness argument of :func:`_scored_rows`."""
    from ..fielded import DEFAULT_BOOST
    from .spimi import FIELD_SEP

    cand_by_qid = cand_by_qid or {}
    restrict = restrict or set()

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        split = pdf["term"].str.split(FIELD_SEP, n=1)
        pdf = pdf.assign(fld=split.str[0], base=split.str[1])
        frames = []
        for t, grp in pdf.groupby("base", sort=True):
            qids = qids_by_term.get(t)
            if not qids:
                continue
            by_field = {r.fld: r for r in grp.itertuples()}
            acc_ids, acc_w = [], []
            for f in fields:  # tfw sums fields in sorted order, like every
                r = by_field.get(f)  # numpy BM25F scorer (scoring.py)
                if r is None:
                    continue
                ids, tfs = decode_postings(r.postings)
                dls = _varbyte_decode(r.doclens).astype(np.float64)
                acc_ids.append(ids)
                acc_w.append(bm25f_weight(boosts.get(f, DEFAULT_BOOST),
                                          tfs.astype(np.float64), dls,
                                          avglen[f]))
            if not acc_ids:
                continue
            ids = np.concatenate(acc_ids)
            w = np.concatenate(acc_w)
            order = np.argsort(ids, kind="stable")  # in-doc order = field order
            ids, w = ids[order], w[order]
            bounds = np.nonzero(ids[1:] != ids[:-1])[0] + 1
            starts = np.concatenate([[0], bounds])
            uids = ids[starts]
            tfw = np.add.reduceat(w, starts)
            # doc-level df is bucket-local by construction (all the term's
            # composites are here), so idf needs no extra job
            contrib = bm25f_contrib(idf(n_docs, len(uids)), tfw)
            for qid in qids:
                u, c = uids, contrib
                if (qid, t) in restrict:
                    cand = cand_by_qid[qid]
                    pos = np.searchsorted(cand, uids)
                    hit = (pos < len(cand)) & (
                        cand[np.minimum(pos, len(cand) - 1)] == uids
                    )
                    if not hit.any():
                        continue
                    u, c = uids[hit], contrib[hit]
                frames.append(pd.DataFrame({
                    "query_id": np.int32(qid),
                    "docid": u,
                    "contrib": c,
                }))
        return (pd.concat(frames, ignore_index=True) if frames
                else pd.DataFrame({
                    "query_id": pd.Series([], dtype="int32"),
                    "docid": pd.Series([], dtype="int64"),
                    "contrib": pd.Series([], dtype="float64")}))

    return _summed(
        rows.select("bucket", "term", "postings", "doclens")
        .groupBy("bucket")
        .applyInPandas(score_bucket, "query_id int, docid long, contrib double"),
        mask_parts, mask_pred)


def bm25f_topk(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    boosts: dict[str, float] | None = None,
    k: int = 10,
    round_to: int | None = 4,
    allow_stale: bool = False,
    expensive_df: int | None = None,
    filter_by: DataFrame | None = None,
    mask_parts: list[DataFrame] | None = None,
    mask_pred=None,
) -> DataFrame:
    """(query_id, rank, docid, score): BM25F top-k served from a FIELDED
    term-partitioned layout — the multi-field twin of :func:`bm25_topk`,
    rank-identical to fielded.fielded_topk / fielded.bm25f_topk on a
    current layout. ``filter_by`` restricts to a docid DataFrame BEFORE
    the top-k cut with the gate kept sound — same contract as
    :func:`bm25_topk`; so is ``mask_parts``/``mask_pred``, the fused
    front-door filter (see _scored_fielded), applied in BOTH phases.

    Requires a layout built from a ``build_fielded_index(...,
    doclens=True)`` source: composite ``field\\x1fterm`` rows carry a
    per-FIELD doclen stream (the normalization length BM25F applies to
    each posting), and composites of one base term co-locate in ONE
    bucket (_base_bucket_expr) — so the per-bucket scorer can sum
    boost-weighted, length-normalized tf across fields BEFORE the
    nonlinear ``tfw/(K1+tfw)`` saturation, and compute each term's
    doc-level df (distinct docids across its fields) locally without a
    shuffle. Stats (n_docs, per-field totals) are the layout's build-time
    snapshot.

    Scale shape: the scan touches only the query terms' buckets
    (PartitionFilters) and row groups (min/max on the composite term
    strings); scoring is vectorized per bucket; the shuffle carries
    (query_id, docid, contrib) partial sums and the merge is the
    group-limited top-k window. Without gating that shuffle is bounded by
    Σ over query terms of Σ_field df — stopword-class terms dominate at
    corpus scale — so the MaxScore CANDIDATE GATE of :func:`bm25_topk`
    engages per query here too, with the multi-field bounds:

    - a term's contribution is idf·tfw/(K1+tfw) < idf, and doc-level df ≥
      max over fields of the composite df (union ≥ any member), so
      idf(n_docs, max_f df_f) upper-bounds every expensive term's
      contribution with driver-side metadata only;
    - a term's cost (decode + emission rows) is Σ_f df_f, which drives
      the cheap/expensive split and the CANDIDATE_CAP check;
    - cheap-only scoring establishes θ₀; when Σ_exp idf_ub < θ₀ − margin,
      expensive bases emit ONLY for cheap-candidate docs. Emitted scores
      are exact (the gate drops docs, never alters contribs), so results
      are hash-identical to the ungated path — pinned by a
      forced-threshold equality test.

    Reference analog: point lookups over sorted per-key side indexes
    (`utils/index/MMapBBIndex.java:27-54`) combined with the multi-field
    weighting of `GazetteerOutWriter.java:455-550`."""
    from ..analyzer import get_analyzer
    from .spimi import FIELD_SEP

    meta = _load_meta(layout_dir)
    if not meta.get("fielded"):
        raise ValueError("not a fielded layout — use bm25_topk")
    if not meta.get("has_doclens"):
        raise ValueError(
            "fielded layout without per-field doclens — rebuild the source "
            "index with build_fielded_index(..., doclens=True) to serve "
            "ranked BM25F from the layout"
        )
    _check_stale(meta, allow_stale)
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    qterms = {int(qid): sorted(set(tokenize(text))) for qid, text in queries}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        raise ValueError("no query terms")
    boosts = dict(boosts or {})
    comp = [f + FIELD_SEP + t for f in meta["fields"] for t in all_terms]
    files = _bucket_files(layout_dir, meta, comp)
    rows = _pruned_rows(spark, layout_dir, meta, comp, files)
    # per-composite df via the driver-side bucket probe — no metadata job
    comp_df = _term_meta_path(layout_dir, meta, comp, files)

    assert not (mask_parts and filter_by is not None)
    # kwargs passed only when fusing (see bm25_topk — spy-compat)
    _mask_kw = ({"mask_parts": mask_parts, "mask_pred": mask_pred}
                if mask_parts else {})

    fields = meta["fields"]  # sorted at build — deterministic float sums
    n_docs = meta["n_docs"]
    avglen = {f: meta["field_totals"].get(f, 0) / n_docs for f in fields}

    # per-base metadata: cost = Σ_f df_f (decode + emission rows), df
    # lower bound = max_f df_f (→ idf upper bound)
    df_cost: dict[str, int] = {}
    df_lb: dict[str, int] = {}
    for comp_term, d in comp_df.items():
        base = comp_term.split(FIELD_SEP, 1)[-1]
        df_cost[base] = df_cost.get(base, 0) + d
        df_lb[base] = max(df_lb.get(base, 0), d)
    plans = [(qid, present) for qid, ts in qterms.items()
             if (present := [t for t in ts if t in df_cost])]
    if not plans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double"
        )
    qids_by_term, cand_by_qid, restrict = _maxscore_gate(
        plans, df_cost,
        # contrib < idf (tfw/(K1+tfw) < 1); idf(max_f df_f) ≥ idf(df)
        lambda qid, exp: sum(idf(n_docs, df_lb[t]) for t in exp),
        lambda subs: _apply_filter(_scored_fielded(
            rows, subs, fields, boosts, avglen, n_docs, **_mask_kw),
            filter_by),
        n_docs, k, round_to, expensive_df,
    )
    scored = _scored_fielded(rows, qids_by_term, fields, boosts, avglen,
                             n_docs, cand_by_qid, restrict, **_mask_kw)
    return rank_topk(_apply_filter(scored, filter_by), k, round_to)


class TermLayoutReader:
    """Serving handle over ONE committed term layout directory. It holds
    driver-side state only: the layout's ``meta``, checked for staleness
    once at open. Every call runs the cold bucket-pruned path — :func:`bm25_topk`,
    `query.match_layout_batch`, `query.search_batch` — on that directory,
    so nothing is cached in Spark and an open reader never changes the
    plan of any other query.

    Contract: the reader serves the layout directory it was opened on,
    whatever the source index commits afterwards. A refresh
    (:func:`refresh_term_layout`, a rebuild into a NEW directory) never
    touches that directory; a new reader opens the refreshed one."""

    def __init__(self, spark: SparkSession, layout_dir: str,
                 allow_stale: bool = False):
        self.spark = spark
        self.layout_dir = layout_dir
        self.meta = _load_meta(layout_dir)
        if not self.meta.get("has_doclens") or self.meta.get("fielded"):
            raise ValueError(
                "ranked layout serving needs a doclen-carrying non-fielded "
                "layout (fielded layouts serve through bm25f_topk)"
            )
        _check_stale(self.meta, allow_stale)

    def topk(self, queries: list[tuple[int, str]], k: int = 10,
             round_to: int | None = 4,
             expensive_df: int | None = None) -> DataFrame:
        return bm25_topk(self.spark, self.layout_dir, queries, k=k,
                         round_to=round_to, allow_stale=True,
                         expensive_df=expensive_df)

    def match(self, queries: list[tuple[int, object]],
              fuzzy_dir: str | None = None,
              expansions_cache: dict | None = None) -> DataFrame:
        """(query_id, docid): `query.match_layout_batch` on this layout."""
        from ..query import match_layout_batch

        return match_layout_batch(self.spark, self.layout_dir, queries,
                                  fuzzy_dir=fuzzy_dir, allow_stale=True,
                                  expansions_cache=expansions_cache)

    def search(self, queries: list[tuple[int, str]], k: int = 10,
               fuzzy_dir: str | None = None, round_to: int | None = 4,
               expensive_df: int | None = None) -> DataFrame:
        """(query_id, rank, docid, score): `query.search_batch` on this
        layout."""
        from ..query import search_batch

        return search_batch(
            self.spark, self.layout_dir, queries, k=k, fuzzy_dir=fuzzy_dir,
            round_to=round_to, allow_stale=True, expensive_df=expensive_df)

    def close(self) -> None:
        pass


class FieldedLayoutReader:
    """Serving handle over ONE committed FIELDED term layout directory —
    the fielded twin of :class:`TermLayoutReader`: ``meta`` checked for
    staleness once at open, every :meth:`topk` the cold bucket-pruned
    :func:`bm25f_topk` on that directory, nothing cached in Spark."""

    def __init__(self, spark: SparkSession, layout_dir: str,
                 allow_stale: bool = False):
        self.spark = spark
        self.layout_dir = layout_dir
        self.meta = _load_meta(layout_dir)
        if not self.meta.get("fielded"):
            raise ValueError(
                "not a fielded layout — use TermLayoutReader"
            )
        if not self.meta.get("has_doclens"):
            raise ValueError(
                "fielded layout without per-field doclens — rebuild the "
                "source index with build_fielded_index(..., doclens=True) "
                "to serve ranked BM25F from the layout"
            )
        _check_stale(self.meta, allow_stale)

    def topk(self, queries: list[tuple[int, str]],
             boosts: dict[str, float] | None = None, k: int = 10,
             round_to: int | None = 4,
             expensive_df: int | None = None) -> DataFrame:
        return bm25f_topk(self.spark, self.layout_dir, queries, boosts=boosts,
                          k=k, round_to=round_to, allow_stale=True,
                          expensive_df=expensive_df)

    def close(self) -> None:
        pass


def bm25_and_topk(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    round_to: int | None = 4,
    allow_stale: bool = False,
    gate_cap: int = CANDIDATE_CAP,
) -> DataFrame:
    """(query_id, rank, docid, score): conjunctive retrieval + exact BM25
    rank served from the term layout — docs containing EVERY analyzed
    query term, the layout twin of wand.topk_and. Queries with a term
    absent from the corpus return no rows (strict AND).

    Scale shape: AND semantics make the rarest-term gate EXACT with no
    θ estimation — a matching doc must appear in the rarest term's
    postings, so when that term's df ≤ ``gate_cap`` its docids are
    collected (one pruned job for the whole batch) and every OTHER
    term's postings emit only for those candidates: the shuffle is
    bounded by n_terms × df(rarest), not Σ df. Queries whose rarest df
    exceeds the cap run ungated (count-filtered full emission) in the
    same job. Either way the conjunctive predicate is enforced by the
    contributing-term count, so results are exact by construction."""
    from ..analyzer import get_analyzer

    meta = _load_meta(layout_dir)
    if not meta.get("has_doclens"):
        raise ValueError(
            "layout was built without doclens (fielded source?) — "
            "ranked serving needs a doclen-carrying layout"
        )
    _check_stale(meta, allow_stale)
    n_docs, avgdl = meta["n_docs"], meta["avgdl"]
    tokenize = get_analyzer(meta["analyzer"]).py_tokenize
    qterms = {int(qid): sorted(set(tokenize(text))) for qid, text in queries}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        raise ValueError("no query terms")
    files = _bucket_files(layout_dir, meta, all_terms)
    rows = _pruned_rows(spark, layout_dir, meta, all_terms, files)
    # dfs + inlined gating blobs: driver bucket probe when the footer
    # stats prove the read small, else ONE Arrow metadata job (was a Row
    # collect plus a second decoded-postings collect per batch)
    got = _term_meta_path_blobs(layout_dir, meta, all_terms,
                                min(gate_cap, INLINE_GATE_DF), files)
    df_by_term, blobs = (got if got is not None
                         else _term_meta(rows, min(gate_cap,
                                                   INLINE_GATE_DF)))
    idf_by_term = {t: idf(n_docs, d) for t, d in df_by_term.items()}

    plans = []  # strict AND: every analyzed term must exist in the corpus
    for qid, ts in qterms.items():
        if ts and all(t in df_by_term for t in ts):
            plans.append((qid, ts))
    if not plans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double"
        )

    # rarest-term gate (exact under AND); blobs cover the common case,
    # rarer-than-inline gating terms pay one follow-up pruned fetch
    gate_terms = {}
    for qid, ts in plans:
        if len(ts) < 2:
            continue
        rare = min(ts, key=lambda t: (df_by_term[t], t))
        if df_by_term[rare] <= gate_cap:
            gate_terms[qid] = rare
    cand_by_qid: dict[int, np.ndarray] = {}
    restrict: set[tuple[int, str]] = set()
    if gate_terms:
        need = sorted(set(gate_terms.values()) - set(blobs))
        if need:
            pdf = (rows.filter(F.col("term").isin(need))
                   .select("term", "postings").toPandas())
            blobs.update(zip(pdf["term"], pdf["postings"]))
        for qid, rare in gate_terms.items():
            blob = blobs.get(rare)
            cand_by_qid[qid] = (decode_postings(blob)[0]
                                if blob is not None
                                else np.zeros(0, np.int64))
            restrict.update(
                (qid, t) for t in qterms[qid] if t != rare
            )

    nt_required = F.create_map(
        *[F.lit(v) for qid, ts in plans for v in (qid, len(ts))]
    )
    scored = _scored_rows(rows, _subscriptions(plans), idf_by_term, avgdl,
                          cand_by_qid, restrict, with_count=True)
    return rank_topk(
        scored.filter(F.col("nt") == nt_required[F.col("query_id")]),
        k, round_to)


# ---------------------------------------------------------------------------
# phrase / proximity serving from a POSITIONAL term layout
# ---------------------------------------------------------------------------
#
# The doc-sharded positional path (index/phrase.py) intersects a phrase's
# terms SHARD-LOCALLY — every shard holds all of its docs' terms — so one
# query fans out to every shard. In the term layout a term's postings live
# in ONE bucket, but different terms of the same phrase live in DIFFERENT
# buckets, so the intersection needs a distributed rendezvous:
#
#   1. pruned scan of the query terms' buckets (metadata job → df per term;
#      strict AND: a query with an absent term matches nothing);
#   2. rarest-term gate (exact under the conjunctive semantics): the rarest
#      term's docids are collected (≤ gate_cap) and every term's positions
#      decode ONLY the blocks holding those candidates — the same
#      block-selective skip machinery phrase.py uses, driven by the
#      layout's blockmeta;
#   3. occurrence rows (query, slot, docid, pos) shuffle hash-partitioned
#      by docid — bounded by candidates × phrase slots × tf, NOT by df —
#      and a vectorized per-partition verifier runs the positional
#      kernel (positional.py) on each docid's slice.
#
# At 10^12 docs a phrase point query therefore touches O(its terms')
# buckets + a candidate-bounded shuffle; queries whose RAREST term exceeds
# gate_cap (stopword-only phrases) fall back to full emission in the same
# job — the honest bound, identical to what the doc-sharded path pays.


def _check_positional_layout(meta: dict) -> None:
    if meta.get("fielded"):
        raise ValueError(
            "fielded layouts do not carry positions — fielded phrase "
            "queries serve from the doc-sharded fielded index"
        )
    if not meta.get("has_positions"):
        raise ValueError(
            "term layout was built without positions — rebuild with "
            "build_term_layout(..., positions=True) (source index must "
            "be positional) for phrase/proximity serving"
        )


# posting blobs for terms at or below this df ride along with the df
# metadata probe (one varbyte blob ≈ 1.5 B/posting → ≤ ~200 KB/term), so
# the rarest-term gate usually needs NO second job; rarer-than-gate_cap
# terms above it still gate through a follow-up fetch of just those blobs
INLINE_GATE_DF = 131072


def _term_meta_path(layout_dir: str, meta: dict, terms: list[str],
                    files: list[tuple[str, int]] | None = None,
                    ) -> dict[str, int]:
    """{term: df} straight from the layout's bucket parquet files — a
    DRIVER-side pyarrow probe, no Spark job (the cold-wand dictionary-
    probe pattern applied to the layout). Buckets come from the xxhash64
    twin and rows are term-sorted within each bucket file
    (_merge_bucket's sorted groupby), so the In(term) filter prunes to a
    few row groups per bucket and only the (term, df) columns are read —
    a dictionary-scale seek at any corpus size. Serves the df-only
    metadata need of bm25_topk / bm25f_topk; gate-blob probes (phrase /
    AND prologues) keep the Arrow job, whose inlined postings a driver
    read could not bound. Reads the same committed files the pruned scan
    reads (layout.json is the commit point), so values are identical.
    ``files``: the caller's _bucket_files listing, when it made one."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    if files is None:
        files = _bucket_files(layout_dir, meta, terms)
    if not files:
        return {}
    t = pads.dataset([p for p, _ in files], format="parquet").to_table(
        columns=["term", "df"], filter=pc.field("term").isin(terms)
    )
    return {s: int(d) for s, d in zip(t["term"].to_pylist(),
                                      t["df"].to_pylist())}


# driver probes may read posting BLOBS only while the parquet metadata
# proves the matched row groups' postings chunks total at most this many
# compressed bytes — above it the Arrow job fetches them distributed
PROBE_BLOB_BUDGET = int(
    os.environ.get("SPARK_GRAFT_PROBE_BLOB_BUDGET", str(8 * 1024 * 1024))
)


def _term_meta_path_blobs(
    layout_dir: str, meta: dict, terms: list[str], gate_limit: int,
    files: list[tuple[str, int]] | None = None,
) -> tuple[dict[str, int], dict[str, bytes]] | None:
    """Driver-side twin of ``_term_meta(rows, gate_limit)``: ({term: df},
    {term: posting blob} for df ≤ gate_limit) probed straight from the
    layout's bucket files — no Spark job. Unlike the (term, df) probe,
    posting blobs are only driver-safe when the read is provably small,
    so row groups are selected by their term min/max stats FIRST and the
    probe returns None — caller falls back to the Arrow job — as soon as
    the selected postings column chunks exceed PROBE_BLOB_BUDGET
    (compressed bytes, from footer metadata, before any data is read).
    Stats compare as raw UTF-8 bytes — parquet's string order — so a
    truncated or otherwise invalid-UTF-8 bound still prunes soundly
    instead of failing to decode; missing stats count a row group as
    matching (conservative). ``files``: the caller's _bucket_files
    listing, when it made one."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tset = sorted(set(terms))
    tarr = pa.array(tset)
    tbytes = [t.encode("utf-8", "surrogatepass") for t in tset]
    if files is None:
        files = _bucket_files(layout_dir, meta, terms)
    picked: list[tuple] = []  # (ParquetFile, [row-group idx])
    total = 0
    for path, _ in files:
        pf = pq.ParquetFile(path)
        names = pf.schema_arrow.names
        ti, pi = names.index("term"), names.index("postings")
        md = pf.metadata
        sel = []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(ti).statistics
            if st is not None and st.has_min_max:
                mn, mx = st.min_raw, st.max_raw
                if not any(mn <= t <= mx for t in tbytes):
                    continue
            sel.append(i)
            total += md.row_group(i).column(pi).total_compressed_size
            if total > PROBE_BLOB_BUDGET:
                return None
        if sel:
            picked.append((pf, sel))
    dfs: dict[str, int] = {}
    blobs: dict[str, bytes] = {}
    for pf, sel in picked:
        t = pf.read_row_groups(sel, columns=["term", "df", "postings"])
        t = t.filter(pc.is_in(t["term"], value_set=tarr))
        for s, d_, p in zip(t["term"].to_pylist(), t["df"].to_pylist(),
                            t["postings"].to_pylist()):
            dfs[s] = int(d_)
            if d_ <= gate_limit:
                blobs[s] = p
    return dfs, blobs


def _term_meta(
    rows: DataFrame, gate_limit: int | None = None,
) -> tuple[dict[str, int], dict[str, bytes]]:
    """ONE Arrow-backed metadata job over the pruned rows → ({term: df},
    {term: posting blob} for terms with df ≤ ``gate_limit``). The inlined
    blobs feed the rarest-term candidate gates without a second Spark job
    in the common (selective) case; driver memory stays bounded by
    n_query_terms × INLINE_GATE_DF postings."""
    if gate_limit is None:
        pdf = rows.select("term", "df").toPandas()
        return ({t: int(d) for t, d in zip(pdf["term"], pdf["df"])}, {})
    pdf = rows.select(
        "term", "df",
        F.when(F.col("df") <= F.lit(int(gate_limit)),
               F.col("postings")).alias("p"),
    ).toPandas()
    dfs = {t: int(d) for t, d in zip(pdf["term"], pdf["df"])}
    blobs = {t: p for t, p in zip(pdf["term"], pdf["p"]) if p is not None}
    return dfs, blobs


def _gate_candidates(
    rows: DataFrame, df_by_term: dict[str, int],
    plans: list[tuple[int, list[str]]], gate_cap: int,
    blobs: dict[str, bytes] | None = None,
) -> dict[int, np.ndarray | None]:
    """Rarest-term candidate docids per query (exact under AND — a match
    must appear in its rarest term's postings). Gating blobs come from the
    metadata probe's inlined postings (``blobs``, df ≤ INLINE_GATE_DF)
    when available; only rarer-than-cap-but-bigger-than-inline terms pay
    a follow-up pruned fetch. Queries whose rarest df exceeds the cap map
    to None (full-emission fallback)."""
    blobs = dict(blobs or {})
    gate_term: dict[int, str] = {}
    for qid, ts in plans:
        rare = min(sorted(set(ts)), key=lambda t: (df_by_term[t], t))
        if df_by_term[rare] <= gate_cap:
            gate_term[qid] = rare
    cand_by_qid: dict[int, np.ndarray | None] = {
        qid: None for qid, _ in plans
    }
    if gate_term:
        need = sorted(set(gate_term.values()) - set(blobs))
        if need:
            pdf = (rows.filter(F.col("term").isin(need))
                   .select("term", "postings").toPandas())
            blobs.update(zip(pdf["term"], pdf["postings"]))
        for qid, rare in gate_term.items():
            blob = blobs.get(rare)
            cand_by_qid[qid] = (decode_postings(blob)[0] if blob is not None
                                else np.zeros(0, np.int64))
    return cand_by_qid


def _occurrence_rows(
    spark: SparkSession,
    rows: DataFrame,
    subs_by_term: dict[str, list[tuple[int, int]]],
    cand_by_qid: dict[int, np.ndarray | None],
    n_parts: int,
) -> DataFrame:
    """(query_id, part, slot, docid, pos): one row per candidate term
    OCCURRENCE for every subscribed (query, slot) pair. Gated queries
    decode only the posting/position blocks that can hold their candidates
    (blockmeta-driven skip); a term with any ungated subscriber decodes
    fully once and gated subscribers still filter to their candidates.
    ``part`` hash-partitions docids so the verifier parallelizes over
    ``n_parts`` × queries groups."""
    from .codec import (
        decode_block_meta,
        decode_blocks,
        decode_positions,
        decode_positions_blocks,
    )

    def emit(iterator):
        for pdf in iterator:
            frames = []
            for r in pdf.itertuples():
                subs = subs_by_term.get(r.term)
                if not subs:
                    continue
                full = any(cand_by_qid.get(q) is None for q, _ in subs)
                if full:
                    ids, tfs = decode_postings(r.postings)
                    flat = decode_positions(r.positions, tfs)
                else:
                    blast, _, _, bends = decode_block_meta(r.blockmeta)
                    cand_u = np.unique(np.concatenate(
                        [cand_by_qid[q] for q, _ in subs]
                    ))
                    bi = np.searchsorted(blast, cand_u, side="left")
                    bi = np.unique(bi[bi < len(blast)])
                    if len(bi) == 0:
                        continue
                    ids, tfs = decode_blocks(r.postings, bends, bi)
                    flat = decode_positions_blocks(r.positions, bi, tfs)
                tfs = tfs.astype(np.int64)
                for qid, slot in subs:
                    cand = cand_by_qid.get(qid)
                    if cand is None:
                        s_ids, s_tfs, s_flat = ids, tfs, flat
                    else:
                        pos_i = np.searchsorted(cand, ids)
                        hit = (pos_i < len(cand)) & (
                            cand[np.minimum(pos_i, len(cand) - 1)] == ids
                        )
                        if not hit.any():
                            continue
                        s_ids, s_tfs = ids[hit], tfs[hit]
                        s_flat = flat[np.repeat(hit, tfs)]
                    frames.append(pd.DataFrame({
                        "query_id": np.int32(qid),
                        "slot": np.int32(slot),
                        "docid": np.repeat(s_ids, s_tfs),
                        "pos": s_flat,
                    }))
            yield (pd.concat(frames, ignore_index=True) if frames
                   else pd.DataFrame({
                       "query_id": pd.Series([], dtype="int32"),
                       "slot": pd.Series([], dtype="int32"),
                       "docid": pd.Series([], dtype="int64"),
                       "pos": pd.Series([], dtype="int64")}))

    emitted = rows.select("term", "postings", "blockmeta", "positions") \
        .mapInPandas(emit, "query_id int, slot int, docid long, pos long")
    return emitted.withColumn(
        "part", F.pmod(F.xxhash64("docid"), F.lit(n_parts)).cast("int")
    )


def _default_parts(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def _positional_prologue(
    spark: SparkSession,
    layout_dir: str,
    meta: dict,
    plans_all: list[tuple[int, list[str]]],
    gate_cap: int,
):
    """Shared head of the positional serving paths: ONE pruned scan, the
    metadata probe yielding dfs + inlined gate blobs (driver-side when
    the parquet footers prove the read ≤ PROBE_BLOB_BUDGET, else one
    Arrow job), strict-AND plan filtering, and the rarest-term candidate
    gate — (rows, df_by_term, plans, cand_by_qid)."""
    all_terms = sorted({t for _, ts in plans_all for t in ts})
    files = _bucket_files(layout_dir, meta, all_terms)
    rows = _pruned_rows(spark, layout_dir, meta, all_terms, files)
    gate_limit = min(gate_cap, INLINE_GATE_DF)
    got = _term_meta_path_blobs(layout_dir, meta, all_terms, gate_limit,
                                files)
    df_by_term, blobs = (got if got is not None
                         else _term_meta(rows, gate_limit))
    # strict AND: a query with any absent term matches nothing
    plans = [(qid, ts) for qid, ts in plans_all
             if all(t in df_by_term for t in ts)]
    cand_by_qid = (_gate_candidates(rows, df_by_term, plans, gate_cap, blobs)
                   if plans else {})
    return rows, df_by_term, plans, cand_by_qid


def _positional_meta(layout_dir: str, allow_stale: bool):
    """(meta, tokenizer) of a positional layout, checked for staleness."""
    from .phrase import _tokenizer

    meta = _load_meta(layout_dir)
    _check_positional_layout(meta)
    _check_stale(meta, allow_stale)
    return meta, _tokenizer(meta)


def phrase_match(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    gate_cap: int = CANDIDATE_CAP,
    allow_stale: bool = False,
    n_parts: int | None = None,
) -> DataFrame:
    """(query_id, docid, n_occurrences): exact token-phrase containment
    with occurrence counts, served from a POSITIONAL term layout — the
    layout twin of phrase.phrase_match_batch, row-identical to it on a
    current layout (pinned). See the module-section comment for the scale
    shape (pruned buckets + rarest-term gate + candidate-bounded docid
    shuffle).

    Reference analog: token-sequence containment as a point query
    (`addresses/impl/NamesMatcherImpl.java:38-46`) over per-key side
    indexes (`utils/index/MMapBBIndex.java:27-54`)."""
    from .phrase import _phrase_plans

    meta, tokenize = _positional_meta(layout_dir, allow_stale)
    rows, _, plans, cand_by_qid = _positional_prologue(
        spark, layout_dir, meta, _phrase_plans(tokenize, queries), gate_cap)
    return _verify_slots(spark, rows, plans, cand_by_qid, n_parts,
                         phrase_slots, "n_occurrences")


def _verify_slots(
    spark: SparkSession,
    rows: DataFrame,
    plans: list[tuple[int, list[str]]],
    cand_by_qid: dict[int, np.ndarray | None],
    n_parts: int | None,
    match,
    col: str,
) -> DataFrame:
    """(query_id, docid, ``col``): the verify stage shared by the
    positional paths. Occurrence rows of every (query, slot) shuffle to
    (query_id, part) groups; each group's per-slot (rank, position)
    arrays go through ``match``, one of positional.py's slot matchers.
    No plans (every query had an absent term): an empty literal frame,
    no job."""
    schema = f"query_id int, docid long, {col} long"
    if not plans:
        return local_frame(spark, [], schema)
    subs_by_term: dict[str, list[tuple[int, int]]] = {}
    for qid, ts in plans:
        for slot, t in enumerate(ts):
            subs_by_term.setdefault(t, []).append((qid, slot))
    n_slots = {qid: len(ts) for qid, ts in plans}
    occ = _occurrence_rows(spark, rows, subs_by_term, cand_by_qid,
                           n_parts or _default_parts(spark))

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        # called once per existing (query_id, part) group: never empty
        qid = int(pdf["query_id"].iloc[0])
        docids = pdf["docid"].to_numpy(np.int64)
        slots = pdf["slot"].to_numpy()
        pos = pdf["pos"].to_numpy(np.int64)
        uniq = np.unique(docids)
        ranks = np.searchsorted(uniq, docids)
        ranks, counts = match([(ranks[slots == s], pos[slots == s])
                               for s in range(n_slots[qid])])
        return pd.DataFrame({"query_id": np.int32(qid),
                             "docid": uniq[ranks], col: counts})

    return occ.groupBy("query_id", "part").applyInPandas(verify, schema)


def near_match_n(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, list[str]]],
    k: int = 3,
    ordered: bool = False,
    gate_cap: int = CANDIDATE_CAP,
    allow_stale: bool = False,
    n_parts: int | None = None,
) -> DataFrame:
    """(query_id, docid, n_anchors): generalized N-term proximity served
    from a POSITIONAL term layout — the layout twin of
    phrase.near_match_n_batch, row-identical on a current layout.
    Unordered: anchors (occurrences of the first term) with EVERY other
    term within token distance ≤ k. Ordered: anchors starting a strictly-
    increasing chain through the terms with each gap ≤ k. Same scale
    shape as :func:`phrase_match` (roles are conjunctive either way)."""
    from .phrase import _near_n_plans

    meta, tokenize = _positional_meta(layout_dir, allow_stale)
    rows, _, plans, cand_by_qid = _positional_prologue(
        spark, layout_dir, meta, _near_n_plans(tokenize, queries), gate_cap)
    return _verify_slots(spark, rows, plans, cand_by_qid, n_parts,
                         near_n_slots(k, ordered), "n_anchors")


def near_match(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str, str]],
    k: int = 3,
    gate_cap: int = CANDIDATE_CAP,
    allow_stale: bool = False,
    n_parts: int | None = None,
) -> DataFrame:
    """(query_id, docid, n_pairs): two-term proximity PAIR COUNTS served
    from a POSITIONAL term layout — the layout twin of phrase.near_match
    (which counts occurrence PAIRS within token distance ≤ k, not
    anchors). Each query is (qid, term_a, term_b); terms must analyze to
    one distinct token each. Same scale shape as :func:`phrase_match`."""
    from .phrase import _near_pair

    meta, tokenize = _positional_meta(layout_dir, allow_stale)
    plans_all = [(int(qid), _near_pair(tokenize, a, b))
                 for qid, a, b in queries]
    rows, _, plans, cand_by_qid = _positional_prologue(
        spark, layout_dir, meta, plans_all, gate_cap)
    return _verify_slots(spark, rows, plans, cand_by_qid, n_parts,
                         near_slots(k), "n_pairs")


def phrase_topk(
    spark: SparkSession,
    layout_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    round_to: int | None = 4,
    gate_cap: int = CANDIDATE_CAP,
    allow_stale: bool = False,
    n_parts: int | None = None,
) -> DataFrame:
    """(query_id, rank, docid, score): phrase-matching docs ranked by BM25
    over the phrase's distinct terms, served from a POSITIONAL layout with
    doclens — the layout twin of phrase.phrase_topk_batch, rank- and
    score-identical on a current layout.

    One extra scoring pass over the SAME pruned rows computes exact BM25
    contributions for the candidate docs (gated queries restrict every
    term's emission to the rarest term's candidates — exact under AND);
    the (query, docid)-keyed join with the verified matches keeps scored
    rows only for docs that truly contain the phrase. Both sides of that
    join are candidate-bounded."""
    from .phrase import _phrase_plans

    meta, tokenize = _positional_meta(layout_dir, allow_stale)
    if not meta.get("has_doclens"):
        raise ValueError("ranked phrase serving needs a doclen-carrying "
                         "layout")
    n_docs, avgdl = meta["n_docs"], meta["avgdl"]
    # ONE prologue (pruned scan + metadata/gate probe) shared by the
    # phrase verify AND the scoring pass
    rows, df_by_term, plans, cand_by_qid = _positional_prologue(
        spark, layout_dir, meta, _phrase_plans(tokenize, queries), gate_cap
    )
    if not plans:
        return local_frame(
            spark, [], "query_id int, rank int, docid long, score double"
        )
    matched = _verify_slots(spark, rows, plans, cand_by_qid, n_parts,
                            phrase_slots, "n_occurrences")
    idf_by_term = {t: idf(n_docs, d) for t, d in df_by_term.items()}
    distinct = [(qid, sorted(set(ts))) for qid, ts in plans]
    restrict = {(qid, t) for qid, ts in distinct
                if cand_by_qid.get(qid) is not None for t in ts}
    scored = _scored_rows(
        rows, _subscriptions(distinct), idf_by_term, avgdl,
        {q: c for q, c in cand_by_qid.items() if c is not None}, restrict,
    )
    return rank_topk(
        scored.join(matched.select("query_id", "docid"),
                    ["query_id", "docid"]),
        k, round_to)


def refresh_term_layout(
    spark: SparkSession, index_dir: str, layout_dir: str, out_dir: str
) -> None:
    """Bring a layout snapshot up to date with its source index → a new
    layout at ``out_dir``, built by :func:`build_term_layout` at the old
    layout's ``n_buckets`` and positions setting. Layout dirs are
    immutable snapshots: ``layout_dir`` stays valid for ``allow_stale``
    readers and for open readers, and ``out_dir`` is byte-identical to a
    from-scratch build at the new snapshot. Raises when the index has
    committed no generation since ``layout_dir`` was built.

    A refresh is a rebuild: the bucket merge costs the same per posting
    whether its input is segment rows or old layout rows, so folding the
    old rows back in never beat re-merging the segments (measured at
    1,200 and 12,000 files, adds-only and with deletes)."""
    from .spimi import committed_generations

    meta = _load_meta(layout_dir)
    built = set(meta.get("source_generations") or [])
    if not set(committed_generations(index_dir)) - built:
        raise ValueError(
            f"layout {layout_dir} is already current with {index_dir} — "
            "nothing to refresh"
        )
    build_term_layout(spark, index_dir, out_dir,
                      n_buckets=meta["n_buckets"],
                      positions=bool(meta.get("has_positions")))
