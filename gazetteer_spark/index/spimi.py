"""SPIMI-style doc-sharded segment build with checkpoint/resume manifests.

Physical layout under ``out_dir``:

- ``segments/gen=N/shard=K/``  parquet; rows are ``kind='post'``
  (one per term: df, cf, block-wise varbyte postings, block-max meta),
  ``kind='docs'`` (one per shard per generation: packed docids + doclens),
  ``kind='fdocs'`` (fielded indexes only: one per field, term = field name,
  packed per-field doc lengths for BM25F norms), or ``kind='dels'``
  (tombstones). gen=0 is the base build; each ``add_documents`` call
  appends a new generation (the reference's diff/append lifecycle).
- ``termstats/`` parquet: global (term, df, cf) over committed segments.
- ``stats.json`` corpus stats: n_docs, avgdl, n_shards, analyzer_version.
- ``build.json`` immutable build parameters (resume compatibility check).
- ``manifest_pending/genN/`` per-task metadata side files (Iceberg style).
- ``manifest/``  parquet, one small file per commit batch: per (generation,
  shard) row/byte metrics and a sha256 content checksum (the reference's
  ``mtainf`` dataset-hash idea, `GazetteerOutWriter.java:1099-1108`) plus
  lineage. The manifest is the COMMIT POINT: queries see exactly the
  (gen, shard) pairs present here (`committed_segments`).

Scale shape: ONE wide shuffle (postings → shard) + one narrow shuffle
(doc meta → shard) + one tiny shuffle (term stats). Doc-sharding means
hot terms spread uniformly over shards (hash(docid)), so the wide shuffle
is skew-free by construction; the term-stats reduce is where hot-term skew
lives and is handled by the salted reduce (SURVEY §7.3).

Resume: planned = all shards; committed = manifest; todo = anti-join —
the reference's diff/`--append` machinery re-expressed
(`diff/Diff.java:132-235`, `split/Split.java:34-74`). Rebuilding only the
missing shards yields byte-identical logical content (checksums compared in
tests) because docids, shard routing, and in-shard ordering derive from
data, never from execution order.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B, K1
from ..session import local_frame
from .codec import (
    encode_blocks_grouped,
    encode_positions_grouped,
    encode_postings,
    gather_runs,
)

# canonical frozen-tokenizer version lives in analyzer.TOKENIZER_VERSION
# (bump it there when default-chain semantics change); aliased here because
# the index layer is its main consumer
from ..analyzer import TOKENIZER_VERSION as ANALYZER_VERSION  # noqa: E402

# layout v2 adds the optional per-term positions stream (empty when the
# index is built with positions=False); layout v3 adds the optional
# per-term doclen stream (``doclens=True`` builds: one varbyte doclen per
# posting, aligned with the posting order — per-FIELD doclen for fielded
# indexes). Both columns are always present so one schema serves every
# layout; empty streams cost nothing (parquet RLE) and contribute nothing
# to the manifest checksums.
SEGMENT_SCHEMA = (
    "shard int, kind string, term string, df int, cf long, "
    "postings binary, blockmeta binary, positions binary, doclens binary"
)
SEGMENT_COLS = [
    "shard", "kind", "term", "df", "cf", "postings", "blockmeta",
    "positions", "doclens",
]

# on-disk schema of a segment FILE: partitionBy(gen, shard) moved those two
# columns into the directory structure, so files hold the remaining eight;
# reads declare this schema EXPLICITLY (partition columns included) so the
# result never depends on which footer Spark happens to sample — a pre-v3
# index appended to by v3 code holds mixed 8/9-column files, and inferred
# schema (mergeSchema off) would nondeterministically drop or keep
# ``doclens``. Missing columns read as NULL, which every consumer treats
# as "stream absent" (same as the empty-bytes convention).
SEGMENT_READ_SCHEMA = (
    "kind string, term string, df int, cf long, postings binary, "
    "blockmeta binary, positions binary, doclens binary, "
    "gen int, shard int"
)


def shard_expr(docid_col, n_shards: int):
    return F.pmod(F.xxhash64(docid_col), F.lit(n_shards)).cast("int")


from contextlib import contextmanager  # noqa: E402


@contextmanager
def group_parallelism(spark: SparkSession, n_keys: int):
    """Reduce-stage key-quantization guard for groupBys with FEW distinct
    keys (shards/buckets). Hashing K keys into P ≈ K partitions leaves
    some tasks holding 2-3 keys and others empty, so the stage runs at
    the max task's load — 2-3× the mean (guide §2.5's synthetic-key
    collision note). Planning the shuffle with P ≥ 4K spreads keys to
    ~1/task; AQE partition coalescing folds the empties back, so the
    cost is only planning arithmetic. Scale-adaptive: never below the
    session's configured parallelism (measured at 5k docs/32 shards:
    build 1.83 s → 1.60 s)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(max(int(prev), 4 * int(n_keys))))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# fielded indexes store per-(field, term) postings as composite terms
# "field<US>term" (US = 0x1f, unit separator — never produced by analyzers
# over [a-z0-9] tokens); per-field doc lengths live in kind='fdocs' rows
FIELD_SEP = "\x1f"


def _field_doclens(
    raw_ids: np.ndarray, raw_tfs: np.ndarray, fnames, fcodes: np.ndarray
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    """Per-(field, docid) token counts → [(field, docids sorted, lens)]."""
    groups = []
    for fi, fname in enumerate(fnames):
        m = fcodes == fi
        ids_f, tfs_f = raw_ids[m], raw_tfs[m]
        if len(ids_f) == 0:
            continue
        o = np.argsort(ids_f, kind="stable")
        sids = ids_f[o]
        b = np.nonzero(sids[1:] != sids[:-1])[0] + 1
        st = np.concatenate([[0], b])
        groups.append((str(fname), sids[st], np.add.reduceat(tfs_f[o], st)))
    return groups


def _field_stream_dlen(
    raw_ids: np.ndarray, fcodes: np.ndarray, fnames,
    field_groups: list[tuple[str, np.ndarray, np.ndarray]],
) -> np.ndarray:
    """Per-POSTING field doclen (raw order): posting i of field f gets
    len_f(doc_i) — the normalization length BM25F applies to that posting.
    Reuses the per-field tables _field_doclens already built."""
    by_name = {g[0]: g for g in field_groups}
    out = np.zeros(len(raw_ids), np.int64)
    for fi, fname in enumerate(fnames):
        g = by_name.get(str(fname))
        if g is None:
            continue
        m = fcodes == fi
        if m.any():
            out[m] = g[2][np.searchsorted(g[1], raw_ids[m])]
    return out


def _postings_source(
    docs: DataFrame, id_col: str, content_col: str, positions: bool,
    analyzer_name: str = "default",
) -> DataFrame:
    """(docid, term, tf[, pos]) — the build's map stage: JVM tokenizer +
    Arrow tf/position fold, so the ONE wide shuffle carries tf-compressed
    posting rows (map-side combine by construction). An occurrence-row
    (pure-JVM) variant was measured 2× SLOWER end-to-end on the 5 KB-doc
    corpus: shuffling one row per occurrence costs more than the Python
    Counter fold saves."""
    from ..analyzer import get_analyzer, postings_arrow, postings_positions_arrow

    tk = get_analyzer(analyzer_name).tokens_expr
    make = postings_positions_arrow if positions else postings_arrow
    return make(docs, id_col, content_col, tokens_fn=tk)


def _encode_shard_core(
    shard: int,
    raw_ids: np.ndarray,
    raw_tfs: np.ndarray,
    codes: np.ndarray,
    uniq_arr: np.ndarray,
    flat_raw: np.ndarray | None,
    pending_dir: str | None,
    field_groups: list[tuple[str, np.ndarray, np.ndarray]] | None = None,
    with_doclens: bool = False,
    stream_dlen_raw: np.ndarray | None = None,
) -> dict:
    """Format-agnostic shard encode: raw posting arrays (+ lexicographic
    term codes and the sorted unique terms) → segment-row column arrays.
    numpy array-at-a-time throughout; the only Python loop is the checksum
    fold over the shard's VOCABULARY (not its postings). Both the pandas
    and the arrow assembly wrappers call this, so their output — and the
    manifest checksums — are byte-identical by construction.

    ``field_groups`` (fielded indexes, layout v2f): [(field_name, docids
    sorted, per-field doclens)] — each becomes one extra kind='fdocs' row
    (term = field name) so BM25F norms read per-field lengths from the
    same shard the postings live in.

    ``with_doclens`` (layout v3): emit a per-term varbyte doclen stream
    aligned with the posting order — the normalization length of each
    posting (doc total length; or ``stream_dlen_raw``, the per-field
    length in raw posting order, for fielded indexes). Term-partitioned
    layouts then build with ONE shuffle: no shard-group doclen-resolve
    stage, the posting bytes and their doclens travel together."""
    # doclen per doc: every posting of a doc is in its shard (doc-sharded)
    doc_order = np.argsort(raw_ids, kind="stable")
    sorted_ids = raw_ids[doc_order]
    doc_bounds = np.nonzero(sorted_ids[1:] != sorted_ids[:-1])[0] + 1
    doc_starts = np.concatenate([[0], doc_bounds])
    doc_ids = sorted_ids[doc_starts]
    doc_lens = np.add.reduceat(raw_tfs[doc_order], doc_starts)

    order = np.lexsort((raw_ids, codes))
    tcodes = codes[order]
    docids = raw_ids[order]
    tfs = raw_tfs[order]
    has_pos = flat_raw is not None
    if has_pos:
        flat = (gather_runs(flat_raw, raw_tfs, order) if len(flat_raw)
                else np.zeros(0, np.int64))

    dlen = doc_lens[np.searchsorted(doc_ids, docids)]
    bounds = np.nonzero(tcodes[1:] != tcodes[:-1])[0] + 1
    starts = np.concatenate([[0], bounds]).astype(np.int64)
    ends = np.concatenate([bounds, [len(tcodes)]]).astype(np.int64)

    posts, metas = encode_blocks_grouped(docids, tfs, dlen, starts, ends)
    dfs = (ends - starts).astype(np.int64)
    cfs = np.add.reduceat(tfs, starts)
    if has_pos:
        posbytes = encode_positions_grouped(flat, tfs, starts, ends)
    else:
        posbytes = [b""] * len(starts)
    if with_doclens:
        # one vectorized varbyte pass over ALL postings' doclens; per-term
        # buffers are byte-range slices (varbyte values are independent)
        from .codec import _varbyte_encode_offsets

        sdl = (stream_dlen_raw[order] if stream_dlen_raw is not None
               else dlen).astype(np.uint64)
        dl_all, dl_ends = _varbyte_encode_offsets(sdl)
        dl_off = np.concatenate([[0], dl_ends])
        dl_raw = dl_all.tobytes()
        dlbytes = [
            dl_raw[int(dl_off[s]):int(dl_off[e])]
            for s, e in zip(starts, ends)
        ]
    else:
        dlbytes = [b""] * len(starts)
    term_vals = uniq_arr[tcodes[starts]]
    # docmeta row appended last: packed (docid, doclen) for query-time
    # doclen lookup
    docs_buf = encode_postings(doc_ids, doc_lens)[0]

    # shard manifest computed here, while the data is in memory — avoids a
    # second full read+hash of the postings bytes. Checksum = sha256 over
    # rows in term-sorted order (deterministic: in-shard order derives from
    # data). The metrics land as a tiny side file under manifest_pending/ —
    # the Iceberg pattern: tasks write data + metadata files, the driver
    # commit promotes metadata. Rewrites on task retry are byte-identical
    # (content is a pure function of the shard's data), so this is safe.
    h = hashlib.sha256()
    n_bytes = 0
    for term, p, m, pb, dlb in zip(term_vals, posts, metas, posbytes, dlbytes):
        h.update(term.encode())
        h.update(p)
        h.update(m)
        h.update(pb)   # no-op for layout v1 (positions empty)
        h.update(dlb)  # no-op below layout v3 (doclens empty)
        n_bytes += len(p) + len(m) + len(pb) + len(dlb)
    h.update(b"")  # docs row: term None
    h.update(docs_buf)
    h.update(b"")
    h.update(b"")
    n_bytes += len(docs_buf)
    fdocs_rows = []
    if field_groups:
        for fname, f_ids, f_lens in sorted(field_groups, key=lambda g: g[0]):
            buf = encode_postings(f_ids, f_lens)[0]
            h.update(fname.encode())
            h.update(buf)
            n_bytes += len(buf)
            fdocs_rows.append(
                (shard, "fdocs", fname, int(len(f_ids)), int(f_lens.sum()),
                 buf, b"", b"", b"")
            )
    metrics = {
        "shard": shard,
        "n_terms": len(term_vals),
        "n_postings": int(tfs.size),
        "n_docs": int(len(doc_ids)),
        "sum_doclen": int(doc_lens.sum()),
        "n_bytes": n_bytes,
        "checksum": h.hexdigest(),
    }
    if pending_dir is not None:
        os.makedirs(pending_dir, exist_ok=True)
        tmp = f"{pending_dir}/.shard_{shard}.tmp"
        with open(tmp, "w") as f:
            json.dump(metrics, f, sort_keys=True)
        os.replace(tmp, f"{pending_dir}/shard_{shard}.json")
    return {
        "shard": shard,
        "term": term_vals,
        "df": dfs,
        "cf": cfs,
        "postings": posts,
        "blockmeta": metas,
        "positions": posbytes,
        "doclens": dlbytes,
        "docs_row": (shard, "docs", None, int(len(doc_ids)),
                     int(doc_lens.sum()), docs_buf, b"", b"", b""),
        "fdocs_rows": fdocs_rows,
    }


def _build_shard(pdf: pd.DataFrame, pending_dir: str | None = None,
                 with_doclens: bool = False) -> pd.DataFrame:
    """One shard's postings (docid, term, tf[, pos]) → segment rows
    (pandas assembly — used by compaction; the build hot path uses
    :func:`_build_shard_arrow`)."""
    shard = int(pdf["shard"].iloc[0])
    raw_ids = pdf["docid"].to_numpy(dtype=np.int64)
    raw_tfs = pdf["tf"].to_numpy(dtype=np.int64)
    # factorize terms to int codes with LEXICOGRAPHIC code order (sort=True)
    # — one C-level hash pass; all sorting below runs on ints. Sorting the
    # object array directly costs Python string compares per element and
    # dominated the shard build before this.
    codes, uniques = pd.factorize(pdf["term"], sort=True)
    codes = codes.astype(np.int64)
    uniq_arr = np.asarray(uniques, dtype=object)
    flat_raw = None
    if "pos" in pdf.columns:
        pos_obj = pdf["pos"].to_numpy()
        flat_raw = (np.concatenate(pos_obj.tolist()).astype(np.int64)
                    if len(pos_obj) else np.zeros(0, np.int64))
    field_groups = None
    stream_dlen = None
    if "field" in pdf.columns:
        fcodes, funiq = pd.factorize(pdf["field"], sort=True)
        field_groups = _field_doclens(raw_ids, raw_tfs, funiq, fcodes)
        if with_doclens:  # fielded v3: per-FIELD doclen per posting
            stream_dlen = _field_stream_dlen(
                raw_ids, fcodes, funiq, field_groups
            )

    cols = _encode_shard_core(shard, raw_ids, raw_tfs, codes, uniq_arr,
                              flat_raw, pending_dir, field_groups,
                              with_doclens, stream_dlen)
    out = pd.DataFrame(
        {
            "shard": np.full(len(cols["term"]), shard, dtype=np.int32),
            "kind": "post",
            "term": cols["term"],
            "df": cols["df"].astype(np.int32),
            "cf": cols["cf"].astype(np.int64),
            "postings": cols["postings"],
            "blockmeta": cols["blockmeta"],
            "positions": cols["positions"],
            "doclens": cols["doclens"],
        },
        columns=SEGMENT_COLS,
    )
    out.loc[len(out)] = cols["docs_row"]
    for r in cols["fdocs_rows"]:
        out.loc[len(out)] = r
    return out


def _build_shard_arrow(tbl, pending_dir: str | None = None,
                       with_doclens: bool = False):
    """Arrow-native shard assembly (the build hot path, via applyInArrow):
    the term column never materializes per-posting Python strings — Arrow
    dictionary-encodes it C-side (one PyObject per UNIQUE term, for the
    checksum, instead of one per posting row), list positions flatten
    zero-copy, and the output is a pyarrow Table built straight from the
    numpy/bytes columns with no pandas block manager in between. Measured
    ~1.7× on the reduce stage at 100k docs vs the pandas path; output is
    byte-identical (shared _encode_shard_core; manifest checksums pinned
    by tests)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    shard = int(tbl["shard"][0].as_py())
    raw_ids = tbl["docid"].to_numpy(zero_copy_only=False).astype(np.int64)
    raw_tfs = tbl["tf"].to_numpy(zero_copy_only=False).astype(np.int64)
    d = tbl["term"].combine_chunks().dictionary_encode()
    # lexicographic code order to match pd.factorize(sort=True): rank the
    # dictionary (C-level UTF-8 sort == Python str order) and remap codes
    sort_idx = pc.sort_indices(d.dictionary).to_numpy().astype(np.int64)
    rank = np.empty(len(sort_idx), dtype=np.int64)
    rank[sort_idx] = np.arange(len(sort_idx))
    codes = rank[d.indices.to_numpy(zero_copy_only=False).astype(np.int64)]
    uniq_sorted = d.dictionary.take(pa.array(sort_idx))
    uniq_arr = np.asarray(uniq_sorted.to_pylist(), dtype=object)
    flat_raw = None
    if "pos" in tbl.schema.names:
        flat_raw = (
            tbl["pos"].combine_chunks().flatten()
            .to_numpy(zero_copy_only=False).astype(np.int64)
        )
    field_groups = None
    stream_dlen = None
    if "field" in tbl.schema.names:
        fd = tbl["field"].combine_chunks().dictionary_encode()
        fnames = fd.dictionary.to_pylist()
        fcodes = fd.indices.to_numpy(zero_copy_only=False)
        field_groups = _field_doclens(raw_ids, raw_tfs, fnames, fcodes)
        if with_doclens:  # fielded v3: per-FIELD doclen per posting
            stream_dlen = _field_stream_dlen(
                raw_ids, fcodes, fnames, field_groups
            )

    cols = _encode_shard_core(shard, raw_ids, raw_tfs, codes, uniq_arr,
                              flat_raw, pending_dir, field_groups,
                              with_doclens, stream_dlen)
    n = len(cols["term"])
    tail = [cols["docs_row"]] + cols["fdocs_rows"]
    m = len(tail)
    return pa.table(
        {
            "shard": pa.array(np.full(n + m, shard, dtype=np.int32)),
            "kind": pa.array(["post"] * n + [r[1] for r in tail]),
            "term": pa.concat_arrays(
                [uniq_sorted.cast(pa.string()),
                 pa.array([r[2] for r in tail], type=pa.string())]
            ),
            "df": pa.array(
                np.concatenate([cols["df"], [r[3] for r in tail]]).astype(np.int32)
            ),
            "cf": pa.array(
                np.concatenate([cols["cf"], [r[4] for r in tail]]).astype(np.int64)
            ),
            "postings": pa.array(cols["postings"] + [r[5] for r in tail],
                                 type=pa.binary()),
            "blockmeta": pa.array(cols["blockmeta"] + [r[6] for r in tail],
                                  type=pa.binary()),
            "positions": pa.array(cols["positions"] + [r[7] for r in tail],
                                  type=pa.binary()),
            "doclens": pa.array(cols["doclens"] + [r[8] for r in tail],
                                type=pa.binary()),
        }
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 32,
    id_col: str = "docid",
    content_col: str = "content",
    resume: bool = False,
    batch_shards: int | None = None,
    positions: bool = False,
    analyzer: str = "default",
    manifest_extra: dict | None = None,
    doclens: bool = False,
) -> dict:
    """Build (or resume) the index. Returns the stats dict.

    Single-pass: the block-max metadata is avgdl-free (codec.block_meta), so
    no corpus-stats pre-pass is needed — corpus stats are aggregated from the
    committed manifest afterwards.

    ``positions=True`` builds layout v2: a per-term delta+varbyte positions
    stream alongside the postings, serving index-backed phrase/proximity
    queries (:mod:`gazetteer_spark.index.phrase`) at ~1.5-2× the segment
    bytes. Scoring queries ignore the stream entirely.

    ``doclens=True`` builds layout v3: a per-term varbyte doclen stream
    aligned with the posting order (~1-2 bytes/posting). Term-partitioned
    layouts (:mod:`gazetteer_spark.index.termindex`) over such an index
    build with ONE shuffle — the shard-group doclen-resolve stage is
    skipped because posting bytes already travel with their doclens.
    """
    os.makedirs(out_dir, exist_ok=True)
    build_path = f"{out_dir}/build.json"
    seg_path = f"{out_dir}/segments"
    man_path = f"{out_dir}/manifest"
    from ..analyzer import get_analyzer

    params = {"n_shards": n_shards, "analyzer": analyzer,
              "analyzer_version": get_analyzer(analyzer).version,
              "k1": K1, "b": B, "positions": positions}
    if doclens:  # key present only when on: v2 build.json files stay valid
        params["doclens"] = True

    committed: set[int] = set()
    if resume and os.path.exists(man_path) and os.path.exists(build_path):
        with open(build_path) as f:
            prev = json.load(f)
        if prev != params:
            raise ValueError("resume with incompatible build parameters")
        import pyarrow.parquet as pq

        t = pq.read_table(man_path, columns=["shard", "generation"])
        committed = {
            s for s, g in zip(t["shard"].to_pylist(), t["generation"].to_pylist())
            if g == 0
        }
    else:
        with open(build_path, "w") as f:
            json.dump(params, f)

    todo = sorted(set(range(n_shards)) - committed)
    if todo:
        # pre-clean uncommitted shard dirs AND their pending metadata (a
        # killed run may have left segment data / metrics whose manifest
        # commit never landed; a zero-row shard this run must not promote a
        # stale metrics file)
        for s in todo:
            d = f"{seg_path}/gen=0/shard={s}"
            if os.path.exists(d):
                shutil.rmtree(d)
            pj = f"{out_dir}/manifest_pending/gen0/shard_{s}.json"
            if os.path.exists(pj):
                os.remove(pj)
        postings_all = _postings_source(
            docs, id_col, content_col, positions, analyzer
        ).withColumn("shard", shard_expr(F.col("docid"), n_shards))
        batches = (
            [todo]
            if batch_shards is None
            else [todo[i : i + batch_shards] for i in range(0, len(todo), batch_shards)]
        )
        for batch in batches:
            p = postings_all
            if len(batch) < n_shards:
                p = p.filter(F.col("shard").isin(batch))
            _write_generation(spark, p, out_dir, batch, generation=0,
                              manifest_extra=manifest_extra,
                              with_doclens=doclens)

    _refresh_derived(spark, out_dir, params)
    return load_stats(out_dir)


def add_documents(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "docid",
    content_col: str = "content",
    manifest_extra: dict | None = None,
) -> dict:
    """Incremental (append-only) index update: a new segment GENERATION.

    The reference's diff/append lifecycle (`diff/Diff.java:132-235`,
    `split --append` Split.java:34-74) re-expressed: new docs become
    per-shard delta segments under ``segments/gen=N``; queries merge all
    COMMITTED generations per (shard, term). Docids must be either brand-new
    or previously TOMBSTONED (tombstones are generation-ordered, so a
    re-added docid's new document becomes visible and its dead predecessor
    stays masked); adding a currently-LIVE docid is undefined — enforce with
    an anti-join on the doc registry when the feed can't guarantee it.
    """
    from ..analyzer import get_analyzer

    with open(f"{out_dir}/build.json") as f:
        params = json.load(f)
    if params.get("fields"):
        raise ValueError(
            "fielded index — add through fielded.add_fielded_documents "
            "(plain adds would write non-composite postings)"
        )
    n_shards = params["n_shards"]
    analyzer = params.get("analyzer", "default")
    if get_analyzer(analyzer).version != params["analyzer_version"]:
        raise ValueError(
            f"analyzer {analyzer!r} version changed since this index was "
            "built — full rebuild required"
        )
    gens = committed_generations(out_dir)
    generation = max(gens) + 1

    p = _postings_source(
        docs, id_col, content_col, bool(params.get("positions")), analyzer
    ).withColumn("shard", shard_expr(F.col("docid"), n_shards))
    # a generation commits atomically (single batch, all shards); orphan
    # data AND pending metrics from a killed add at this gen are stale
    gen_dir = f"{out_dir}/segments/gen={generation}"
    if os.path.exists(gen_dir):
        shutil.rmtree(gen_dir)
    stale_pending = f"{out_dir}/manifest_pending/gen{generation}"
    if os.path.exists(stale_pending):
        shutil.rmtree(stale_pending)
    _write_generation(spark, p, out_dir, list(range(n_shards)), generation,
                      manifest_extra=manifest_extra,
                      with_doclens=bool(params.get("doclens")))
    _refresh_derived(spark, out_dir, params)
    return load_stats(out_dir)


def delete_documents(
    spark: SparkSession, docids: list[int], out_dir: str,
    manifest_extra: dict | None = None,
) -> dict:
    """Tombstone delete from a driver-side id list — convenience wrapper
    over :func:`delete_documents_df` for metadata-scale deletes."""
    df = local_frame(spark, [(int(d),) for d in docids], "docid long")
    return delete_documents_df(spark, df, out_dir, manifest_extra=manifest_extra)


def delete_documents_df(
    spark: SparkSession, docids: DataFrame, out_dir: str,
    id_col: str = "docid", manifest_extra: dict | None = None,
) -> dict:
    """Tombstone delete: a generation whose per-shard rows (kind='dels')
    carry the deleted docids; queries mask them out at decode time.
    DataFrame-native — the removal ids never pass through the driver, so
    delete-heavy feeds (re-ingest, purge) stay distributed end-to-end.

    Reference parity: sortupdate's ``action=remove`` rows and diff's ``-``
    ops (`sortupdate/SortAndUpdateTask.java:30-92`, `diff/Diff.java`).
    Lucene-like semantics: corpus stats (N, avgdl, df) stay as built until a
    compaction (full rebuild); deleted docs simply stop matching. Tombstones
    are GENERATION-ORDERED (codec.DelIndex): they mask only generations
    older than this delete, so a docid re-added by a LATER add_documents
    becomes visible again.
    """
    with open(f"{out_dir}/build.json") as f:
        params = json.load(f)
    n_shards = params["n_shards"]
    gens = committed_generations(out_dir)
    generation = max(gens) + 1

    df = (docids.select(F.col(id_col).cast("long").alias("docid"))
          .withColumn("shard", shard_expr(F.col("docid"), n_shards)))
    pending = f"{out_dir}/manifest_pending/gen{generation}"

    def build_dels(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        ids = np.unique(pdf["docid"].to_numpy(dtype=np.int64))
        buf, _ = encode_postings(ids, np.ones(len(ids), dtype=np.int64))
        h = hashlib.sha256()
        h.update(b"dels")
        h.update(buf)
        os.makedirs(pending, exist_ok=True)
        metrics = {"shard": shard, "n_terms": 0, "n_postings": int(len(ids)),
                   "n_docs": 0, "sum_doclen": 0, "n_bytes": len(buf),
                   "checksum": h.hexdigest()}
        tmp = f"{pending}/.shard_{shard}.tmp"
        with open(tmp, "w") as f:
            json.dump(metrics, f, sort_keys=True)
        os.replace(tmp, f"{pending}/shard_{shard}.json")
        return pd.DataFrame(
            [(shard, "dels", None, int(len(ids)), 0, buf, b"", b"", b"")],
            columns=SEGMENT_COLS,
        )

    gen_dir = f"{out_dir}/segments/gen={generation}"
    if os.path.exists(gen_dir):
        shutil.rmtree(gen_dir)
    if os.path.exists(pending):
        shutil.rmtree(pending)
    segments = df.groupBy("shard").applyInPandas(build_dels, SEGMENT_SCHEMA)
    segments = segments.withColumn("gen", F.lit(generation))
    segments.write.mode("append").partitionBy("gen", "shard").parquet(
        f"{out_dir}/segments"
    )
    # shard list from the pending side files the write just produced — no
    # second job over the removal ids, nothing data-sized on the driver
    shards = sorted(
        int(f.split("_")[1].split(".")[0])
        for f in (os.listdir(pending) if os.path.isdir(pending) else [])
        if f.startswith("shard_")
    )
    if shards:
        _commit_manifest(spark, out_dir, shards, generation,
                         extra=manifest_extra)
    return load_stats(out_dir)


def compact_index(spark: SparkSession, index_dir: str, out_dir: str) -> dict:
    """Merge all committed generations, apply tombstones, and write a fresh
    gen-0 index at ``out_dir`` — the reference's sortupdate/synchronize step
    (`sortupdate/SortAndUpdateTask.java:30-92`: latest-wins + drop
    action=remove) as a SHUFFLE-FREE map over shards: docid→shard routing is
    unchanged, so each shard compacts locally. Corpus stats are recomputed,
    restoring exact-stats BM25 semantics after deletes.

    The output is byte-identical (manifest checksums) to a from-scratch
    build over the surviving corpus — tested."""
    with open(f"{index_dir}/build.json") as f:
        params = json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/build.json", "w") as f:
        json.dump(params, f)
    if os.path.exists(f"{out_dir}/manifest"):
        raise ValueError(
            f"compact_index target {out_dir} already has a committed manifest; "
            "compact into a fresh directory"
        )
    pending = f"{out_dir}/manifest_pending/gen0"
    # a reused out_dir may hold stale pending metadata (and orphan segment
    # data) from an earlier killed run — the commit below derives the shard
    # list from pending files, so stale ones MUST go first
    if os.path.exists(pending):
        shutil.rmtree(pending)
    stale_gen0 = f"{out_dir}/segments/gen=0"
    if os.path.exists(stale_gen0):
        shutil.rmtree(stale_gen0)

    with_pos = bool(params.get("positions"))

    def compact_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        from .codec import DelIndex
        from .codec import decode_positions as _decp
        from .codec import decode_postings as _dec

        # generation-ordered: a del masks only OLDER generations, so a
        # docid deleted then re-added keeps its newest document
        dels = DelIndex.from_pdf(pdf)

        shard = int(pdf["shard"].iloc[0])
        frames = []
        for r in pdf[pdf["kind"] == "post"].itertuples():
            ids, tfs = _dec(r.postings)
            keep = dels.keep_mask(int(r.gen), ids)
            if not keep.any():
                continue
            frame = {"docid": ids[keep], "term": r.term, "tf": tfs[keep]}
            if with_pos:
                flat_pos = _decp(r.positions, tfs)
                runs = np.split(flat_pos, np.cumsum(tfs)[:-1])
                frame["pos"] = [p for p, k in zip(runs, keep) if k]
            frames.append(pd.DataFrame(frame))
        if not frames:
            return pd.DataFrame(columns=SEGMENT_COLS).astype(
                {"shard": "int32", "df": "int32", "cf": "int64"}
            )
        flat = pd.concat(frames, ignore_index=True)
        flat["shard"] = shard
        if params.get("fields"):  # fielded: recover field from the
            # composite term prefix so fdocs rows are rebuilt
            flat["field"] = flat["term"].str.split(FIELD_SEP, n=1).str[0]
        return _build_shard(flat, pending_dir=pending,
                            with_doclens=bool(params.get("doclens")))

    seg = committed_segments(spark, index_dir)
    out = seg.groupBy("shard").applyInPandas(compact_shard, SEGMENT_SCHEMA)
    out = out.withColumn("gen", F.lit(0))
    with group_parallelism(spark, params["n_shards"]):
        out.write.mode("append").partitionBy("gen", "shard").parquet(
            f"{out_dir}/segments"
        )
    shards = sorted(
        int(f.split("_")[1].split(".")[0])
        for f in (os.listdir(pending) if os.path.isdir(pending) else [])
        if f.startswith("shard_")
    )
    if not shards:
        raise ValueError(
            "compaction produced an empty index (every document tombstoned); "
            "refusing to commit — drop the index directory instead"
        )
    _commit_manifest(spark, out_dir, shards, generation=0)
    _refresh_derived(spark, out_dir, params)
    if params.get("fields"):
        from ..fielded import _refresh_field_stats

        _refresh_field_stats(spark, out_dir)
    return load_stats(out_dir)


def _write_generation(
    spark: SparkSession, postings: DataFrame, out_dir: str,
    shards: list[int], generation: int, manifest_extra: dict | None = None,
    with_doclens: bool = False,
) -> None:
    # groupBy itself shuffles on the group key — an explicit repartition
    # would be a second, redundant shuffle. With shuffle.partitions >
    # n_shards the hash collisions that would otherwise double-load a reduce
    # task spread out, and AQE coalesces the empties. Append mode: (gen,
    # shard) dirs are disjoint across batches, so no overwrite machinery
    # (listing + per-dir renames on the driver) is paid.
    pending = f"{out_dir}/manifest_pending/gen{generation}"

    # arrow-native assembly (applyInArrow): no per-posting Python strings,
    # no pandas block manager — see _build_shard_arrow. Single-parameter
    # callback (a second param would receive the group key).
    segments = postings.groupBy("shard").applyInArrow(
        lambda tbl: _build_shard_arrow(tbl, pending_dir=pending,
                                       with_doclens=with_doclens),
        SEGMENT_SCHEMA,
    ).withColumn("gen", F.lit(generation))
    with group_parallelism(spark, len(shards)):
        segments.write.mode("append").partitionBy("gen", "shard").parquet(
            f"{out_dir}/segments"
        )
    # segments land first; the manifest row is the commit point
    _commit_manifest(spark, out_dir, shards, generation, extra=manifest_extra)


# Gate for the driver-side termstats fold: the manifest's Σ per-shard
# n_terms is EXACTLY the number of kind='post' rows the term reduce must
# aggregate (delete generations commit n_terms=0). At or below this many
# rows the fold runs driver-side in pyarrow (~40 B/row transient → ≤ a few
# hundred MB, one C++ group-by, no Spark job); above it the distributed
# groupBy runs — vocabulary at true corpus scale must stay in Spark.
DRIVER_TERMSTATS_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_DRIVER_TERMSTATS_ROWS", "4000000")
)


def _termstats_driver(out_dir: str, pairs: dict[int, list[int]]) -> None:
    """Driver-side termstats refresh (see DRIVER_TERMSTATS_MAX_ROWS):
    read (term, df, cf) of kind='post' rows from exactly the committed
    (gen, shard) segment files with pyarrow (column projection skips the
    posting blobs), group-sum by term in Arrow C++, write ONE globally
    term-sorted parquet file. Output is read-equivalent to the Spark
    fold's (same schema/values; globally sorted is strictly better for
    the dictionary probes' row-group zone maps, and the 32k-row groups
    give the In()/StartsWith probes finer pruning than Spark's default)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    files: list[str] = []
    for g, shards in sorted(pairs.items()):
        for s in sorted(shards):
            d = f"{out_dir}/segments/gen={g}/shard={s}"
            if os.path.isdir(d):  # empty committed delta: no dir, no rows
                files.extend(
                    f"{d}/{n}" for n in sorted(os.listdir(d))
                    if n.endswith(".parquet")
                )
    schema = pa.schema(
        [pa.field("term", pa.string()), pa.field("df", pa.int64()),
         pa.field("cf", pa.int64())]
    )
    if files:
        ds = pads.dataset(files, format="parquet")
        t = ds.to_table(columns=["term", "df", "cf"],
                        filter=pc.field("kind") == "post")
        agg = pa.TableGroupBy(t, "term").aggregate(
            [("df", "sum"), ("cf", "sum")]
        ).sort_by("term")
        out = pa.table(
            {
                "term": agg["term"],
                "df": pc.cast(agg["df_sum"], pa.int64()),
                "cf": pc.cast(agg["cf_sum"], pa.int64()),
            }
        )
    else:
        out = schema.empty_table()
    tmp = f"{out_dir}/.termstats.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(out, f"{tmp}/part-00000.parquet", row_group_size=32768)
    # the old table moves aside before the new one renames into place and
    # is removed only after: a refresh that dies between the two renames
    # leaves the aside copy, which termstats_dir serves
    dst, old = f"{out_dir}/termstats", f"{out_dir}/{TERMSTATS_ASIDE}"
    if os.path.isdir(dst):
        shutil.rmtree(old, ignore_errors=True)
        os.rename(dst, old)
    os.rename(tmp, dst)
    shutil.rmtree(old, ignore_errors=True)


def _refresh_derived(spark: SparkSession, out_dir: str, params: dict) -> None:
    """Recompute termstats + corpus stats over COMMITTED segments only.

    Term stats: salt not needed here — per-shard df/cf are already one row
    per (gen, shard, term), so the groupBy input is pre-reduced; this IS the
    two-level (salted-by-doc-shard) reduce, with shard as the salt. When the
    manifest proves the reduce input is metadata-sized (Σ n_terms ≤
    DRIVER_TERMSTATS_MAX_ROWS) the fold runs driver-side in pyarrow instead
    of paying a Spark job's fixed cost — same output values, one sorted
    file (the committed-manifest pattern applied to the derived stats)."""
    # corpus stats + fold-size gate from the committed manifest — ONE
    # driver-side metadata read serves both
    import pyarrow.parquet as pq

    mt = pq.read_table(
        f"{out_dir}/manifest",
        columns=["generation", "shard", "n_terms", "n_docs", "sum_doclen"],
    )
    total_terms = sum(mt["n_terms"].to_pylist())
    if total_terms <= DRIVER_TERMSTATS_MAX_ROWS:
        psets: dict[int, set[int]] = {}
        for g, s in zip(mt["generation"].to_pylist(),
                        mt["shard"].to_pylist()):
            psets.setdefault(int(g), set()).add(int(s))
        _termstats_driver(out_dir, {g: sorted(v) for g, v in psets.items()})
    else:
        seg = committed_segments(spark, out_dir)
        ts = (
            seg.filter(F.col("kind") == "post")
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("cf").alias("cf"))
        )
        # sorted within each hash partition: parquet row-group min/max zone
        # maps then prune dictionary RANGE scans (prefix lookup) to a few
        # row groups per file instead of the whole vocabulary
        ts.sortWithinPartitions("term").write.mode("overwrite").parquet(
            f"{out_dir}/termstats"
        )

    n = sum(mt["n_docs"].to_pylist())
    total_len = sum(mt["sum_doclen"].to_pylist())
    stats = {
        "n_docs": int(n),
        "avgdl": float(total_len) / float(n) if n else 0.0,
        **params,
    }
    tmp = f"{out_dir}/.stats.json.tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, f"{out_dir}/stats.json")


def last_stream_commit(
    out_dir: str, stream_id: str
) -> tuple[int | None, set[str], dict[tuple[int, str], str]]:
    """(newest applied batch_id for this stream, the batch_steps committed
    at that batch, committed content fingerprints by (batch_id, step)) read
    from the manifest — the streaming sinks' idempotence check plus the
    replay-verification evidence (streaming._check_replay_fp). (None,
    set(), {}) if the stream has never committed. Driver-side metadata I/O
    only (one tiny parquet footer+read per commit batch)."""
    man = f"{out_dir}/manifest"
    if not os.path.isdir(man):
        return None, set(), {}
    import pyarrow.parquet as pq

    best: int | None = None
    steps: set[str] = set()
    fps: dict[tuple[int, str], str] = {}
    for name in sorted(os.listdir(man)):
        if not name.endswith(".parquet"):
            continue
        path = f"{man}/{name}"
        names = pq.read_schema(path).names
        if "batch_id" not in names:
            continue  # commit from before batch markers existed
        has_fp = "batch_fp" in names
        cols = ["stream_id", "batch_id", "batch_step"] + (
            ["batch_fp"] if has_fp else []
        )
        t = pq.read_table(path, columns=cols)
        fp_col = (t["batch_fp"].to_pylist() if has_fp
                  else [""] * len(t))
        for sid, bid, step, fp in zip(
            t["stream_id"].to_pylist(), t["batch_id"].to_pylist(),
            t["batch_step"].to_pylist(), fp_col,
        ):
            if sid != stream_id or bid is None or bid < 0:
                continue
            if fp:
                fps[(bid, step)] = fp
            if best is None or bid > best:
                best, steps = bid, set()
            if bid == best:
                steps.add(step)
    return best, steps, fps


def committed_generations(out_dir: str) -> set[int]:
    import pyarrow.parquet as pq

    man_path = f"{out_dir}/manifest"
    if not os.path.exists(man_path):
        return set()
    t = pq.read_table(man_path, columns=["generation"])
    return set(t["generation"].to_pylist())


def committed_pairs(out_dir: str) -> dict[int, list[int]]:
    """{generation: sorted shards} committed in the manifest — driver-side
    metadata (pyarrow footer+column read; scales with shard count)."""
    import pyarrow.parquet as pq

    man_path = f"{out_dir}/manifest"
    if not os.path.exists(man_path):
        return {}
    t = pq.read_table(man_path, columns=["generation", "shard"])
    out: dict[int, set[int]] = {}
    for g, s in zip(t["generation"].to_pylist(), t["shard"].to_pylist()):
        out.setdefault(int(g), set()).add(int(s))
    return {g: sorted(v) for g, v in out.items()}


def committed_segments(spark: SparkSession, out_dir: str) -> DataFrame:
    """Segment rows visible to queries: a PARTITION-PRUNING filter built
    from the committed (gen, shard) manifest pairs — orphan files from
    killed runs are never read. The manifest is tiny driver-side metadata
    (one pyarrow read; scales with shard count, not data), and because
    ``gen``/``shard`` are partition columns the predicate prunes orphan
    directories at PLANNING time: no manifest Spark job, no broadcast
    exchange, and uncommitted files never even reach the scan's file list.
    The explicit read schema keeps mixed-version segment dirs
    deterministic (see SEGMENT_READ_SCHEMA)."""
    seg = spark.read.schema(SEGMENT_READ_SCHEMA).parquet(
        f"{out_dir}/segments"
    )
    pairs = committed_pairs(out_dir)
    if not pairs:
        return seg.filter(F.lit(False))
    from functools import reduce

    pred = reduce(
        lambda a, b: a | b,
        ((F.col("gen") == g) & F.col("shard").isin(shards)
         for g, shards in sorted(pairs.items())),
    )
    return seg.filter(pred)


def _commit_manifest(
    spark: SparkSession, out_dir: str, shards: list[int], generation: int,
    extra: dict | None = None,
) -> None:
    """Promote the pending per-task metadata files of ``shards`` to the
    manifest table — the durable commit point. Pure driver-side metadata
    I/O (the Iceberg commit pattern): no Spark job, no data-file reads.

    ``extra`` rides in the SAME atomic rename (streaming exactly-once:
    stream_id/batch_id/batch_step land with — not after — the commit, so
    there is no window where a generation is visible but its batch marker
    is not). The three columns are always present (defaults) to keep every
    manifest file schema-identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    marker = {"stream_id": "", "batch_id": -1, "batch_step": "",
              "batch_fp": "", **(extra or {})}
    with open(f"{out_dir}/build.json") as f:
        analyzer_version = json.load(f).get("analyzer_version", ANALYZER_VERSION)
    recs = []
    for s in shards:
        path = f"{out_dir}/manifest_pending/gen{generation}/shard_{s}.json"
        if os.path.exists(path):
            with open(path) as f:
                m = json.load(f)
            assert m["shard"] == s
        else:  # shard received no rows in this generation — empty delta
            m = {"shard": s, "n_terms": 0, "n_postings": 0, "n_docs": 0,
                 "sum_doclen": 0, "n_bytes": 0, "checksum": ""}
        m["generation"] = generation
        m["analyzer_version"] = analyzer_version
        m["status"] = "committed"
        m["stream_id"] = str(marker["stream_id"])
        m["batch_id"] = int(marker["batch_id"])
        m["batch_step"] = str(marker["batch_step"])
        m["batch_fp"] = str(marker["batch_fp"])
        recs.append(m)
    table = pa.Table.from_pylist(recs)
    os.makedirs(f"{out_dir}/manifest", exist_ok=True)
    # one small file per commit batch; committed (gen, shard) sets disjoint
    name = f"gen{generation}_batch_{min(shards)}_{max(shards)}"
    tmp = f"{out_dir}/manifest/.{name}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, f"{out_dir}/manifest/{name}.parquet")


# both termstats writers (the driver-side Arrow fold and the distributed
# groupBy) emit exactly these columns and types
TERMSTATS_SCHEMA = "term string, df long, cf long"


# where _termstats_driver keeps the previous table while it swaps in a new one
TERMSTATS_ASIDE = ".termstats.old"


def termstats_dir(out_dir: str) -> str:
    """The termstats directory to read: ``termstats``, or the previous
    table's aside copy when a driver-side refresh died between moving the
    old table aside and renaming the new one into place."""
    dst = f"{out_dir}/termstats"
    old = f"{out_dir}/{TERMSTATS_ASIDE}"
    return old if not os.path.isdir(dst) and os.path.isdir(old) else dst


def load_termstats(spark: SparkSession, out_dir: str) -> DataFrame:
    """The global (term, df, cf) table, read with its fixed schema (no
    schema-inference job)."""
    return spark.read.schema(TERMSTATS_SCHEMA).parquet(termstats_dir(out_dir))


def load_stats(out_dir: str) -> dict:
    with open(f"{out_dir}/stats.json") as f:
        return json.load(f)


def load_segments(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/segments")


def load_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/manifest")
