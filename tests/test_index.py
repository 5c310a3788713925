"""Segment build, block-max top-k, and kill-and-resume tests.

Reference analogs: storage-engine golden tests over generated data
(`MMapIndexTest.java:51-180`), diff/resume (`diff/Diff.java:132-235`),
rank pinning (`JoinSliceRunable.java:848-875`).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gazetteer_spark.index import phrase, spimi, wand
from gazetteer_spark.oracle import OracleIndex

QUERIES = [
    (0, "spark join merge"),
    (1, "window"),
    (2, "customer filter group sort"),
    (3, "zzz_not_here"),
    (4, "the"),
    (5, "batch stream vector"),
    (6, "the spark"),  # hot + mid
]


@pytest.fixture(scope="module")
def index_dir(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    spimi.build_index(
        spark, documents, d, n_shards=8, id_col="doc_id", content_col="text"
    )
    return d


def _oracle(documents):
    docs = [(r["doc_id"], r["text"]) for r in documents.select("doc_id", "text").collect()]
    return OracleIndex(docs)


def test_manifest_complete(spark, index_dir):
    man = spimi.load_manifest(spark, index_dir).collect()
    assert sorted(r["shard"] for r in man) == list(range(8))
    assert all(r["status"] == "committed" for r in man)
    assert all(r["n_bytes"] > 0 and r["n_terms"] > 0 for r in man)
    stats = spimi.load_stats(index_dir)
    assert sum(r["n_docs"] for r in man) == stats["n_docs"] == 500


def test_termstats_match_oracle(spark, index_dir, documents):
    oracle = _oracle(documents)
    ts = {r["term"]: r["df"] for r in spimi.load_termstats(spark, index_dir).collect()}
    assert ts == {t: len(p) for t, p in oracle.postings.items()}


def test_wand_topk_rank_identical(spark, index_dir, documents):
    oracle = _oracle(documents)
    got = (
        wand.topk(spark, index_dir, QUERIES, k=10)
        .orderBy("query_id", "rank")
        .collect()
    )
    want = oracle.topk_batch(QUERIES, k=10)
    assert [(r["query_id"], r["rank"], r["docid"]) for r in got] == [
        (q, r, d) for q, r, d, _ in want
    ]
    for row, (_, _, _, ws) in zip(got, want):
        assert abs(row["score"] - ws) < 1e-9


def test_wand_k100(spark, index_dir, documents):
    oracle = _oracle(documents)
    got = (
        wand.topk(spark, index_dir, [(0, "spark join")], k=100)
        .orderBy("rank")
        .collect()
    )
    want = oracle.topk("spark join", k=100)
    assert [(r["rank"], r["docid"]) for r in got] == [(r, d) for r, d, _ in [
        (rk, dc, sc) for rk, dc, sc in want
    ]]


def test_index_reader_matches_topk(spark, index_dir):
    reader = wand.IndexReader(spark, index_dir)
    try:
        a = reader.topk(QUERIES, k=10).orderBy("query_id", "rank").collect()
    finally:
        reader.close()
    b = wand.topk(spark, index_dir, QUERIES, k=10).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_wand_oov_empty(spark, index_dir):
    assert wand.topk(spark, index_dir, [(0, "zzz_not_here")], k=5).count() == 0


def test_resume_after_kill(spark, documents, tmp_path_factory, monkeypatch):
    full = str(tmp_path_factory.mktemp("idx_full"))
    spimi.build_index(spark, documents, full, n_shards=8, id_col="doc_id",
                      content_col="text")

    # simulate a kill: the 3rd batch commit dies mid-build (segments for the
    # batch may be on disk, but their manifest rows never landed)
    killed = str(tmp_path_factory.mktemp("idx_killed"))
    real_commit = spimi._commit_manifest
    calls = {"n": 0}

    def flaky_commit(spark_, out_dir, shards, generation=0, extra=None):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated kill")
        real_commit(spark_, out_dir, shards, generation, extra=extra)

    monkeypatch.setattr(spimi, "_commit_manifest", flaky_commit)
    with pytest.raises(RuntimeError, match="simulated kill"):
        spimi.build_index(spark, documents, killed, n_shards=8, id_col="doc_id",
                          content_col="text", batch_shards=3)
    monkeypatch.setattr(spimi, "_commit_manifest", real_commit)

    spimi.build_index(spark, documents, killed, n_shards=8, id_col="doc_id",
                      content_col="text", resume=True)

    man_a = {r["shard"]: r for r in spimi.load_manifest(spark, full).collect()}
    man_b = {r["shard"]: r for r in spimi.load_manifest(spark, killed).collect()}
    assert sorted(man_b) == list(range(8))
    for s in range(8):
        assert man_a[s]["checksum"] == man_b[s]["checksum"], f"shard {s}"
        assert man_a[s]["n_postings"] == man_b[s]["n_postings"]

    got = wand.topk(spark, killed, QUERIES, k=10).orderBy("query_id", "rank").collect()
    ref = wand.topk(spark, full, QUERIES, k=10).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_resume_skips_committed(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_noop"))
    spimi.build_index(spark, documents, d, n_shards=4, id_col="doc_id",
                      content_col="text")
    before = {r["shard"]: r["checksum"]
              for r in spimi.load_manifest(spark, d).collect()}
    spimi.build_index(spark, documents, d, n_shards=4, id_col="doc_id",
                      content_col="text", resume=True)
    after = {r["shard"]: r["checksum"]
             for r in spimi.load_manifest(spark, d).collect()}
    assert before == after


def test_incremental_generation_equals_full_rebuild(spark, documents,
                                                    tmp_path_factory):
    """add_documents (segment generation N) answers queries identically to a
    from-scratch rebuild over the union corpus — the reference's diff/append
    lifecycle re-expressed (diff/Diff.java:132-235)."""
    base_docs = documents.filter(F.col("doc_id") < 350)
    new_docs = documents.filter(F.col("doc_id") >= 350)

    inc = str(tmp_path_factory.mktemp("idx_inc"))
    spimi.build_index(spark, base_docs, inc, n_shards=8, id_col="doc_id",
                      content_col="text")
    stats_before = spimi.load_stats(inc)
    spimi.add_documents(spark, new_docs, inc, id_col="doc_id", content_col="text")
    stats_after = spimi.load_stats(inc)
    assert stats_after["n_docs"] == 500 > stats_before["n_docs"]

    full = str(tmp_path_factory.mktemp("idx_refull"))
    spimi.build_index(spark, documents, full, n_shards=8, id_col="doc_id",
                      content_col="text")

    got = wand.topk(spark, inc, QUERIES, k=10).orderBy("query_id", "rank").collect()
    ref = wand.topk(spark, full, QUERIES, k=10).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]

    ts_inc = {r["term"]: (r["df"], r["cf"])
              for r in spimi.load_termstats(spark, inc).collect()}
    ts_full = {r["term"]: (r["df"], r["cf"])
               for r in spimi.load_termstats(spark, full).collect()}
    assert ts_inc == ts_full


def test_orphan_generation_invisible(spark, documents, tmp_path_factory,
                                     monkeypatch):
    """A killed add_documents (segments written, commit never landed) must be
    invisible to queries until retried."""
    d = str(tmp_path_factory.mktemp("idx_orphan"))
    base_docs = documents.filter(F.col("doc_id") < 350)
    new_docs = documents.filter(F.col("doc_id") >= 350)
    spimi.build_index(spark, base_docs, d, n_shards=8, id_col="doc_id",
                      content_col="text")
    before = wand.topk(spark, d, QUERIES, k=10).orderBy("query_id", "rank").collect()

    real_commit = spimi._commit_manifest

    def dead_commit(*a, **k):
        raise RuntimeError("simulated kill")

    monkeypatch.setattr(spimi, "_commit_manifest", dead_commit)
    with pytest.raises(RuntimeError):
        spimi.add_documents(spark, new_docs, d, id_col="doc_id", content_col="text")
    monkeypatch.setattr(spimi, "_commit_manifest", real_commit)

    # orphan gen=1 segment files exist, but queries must not see them
    after = wand.topk(spark, d, QUERIES, k=10).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]

    # retry succeeds and the docs appear
    spimi.add_documents(spark, new_docs, d, id_col="doc_id", content_col="text")
    assert spimi.load_stats(d)["n_docs"] == 500


def test_tombstone_deletes(spark, documents, tmp_path_factory):
    """delete_documents masks docs from every query path (full decode AND
    block-selective decode) without touching corpus stats — checked against
    the oracle's exclude semantics."""
    d = str(tmp_path_factory.mktemp("idx_dels"))
    spimi.build_index(spark, documents, d, n_shards=8, id_col="doc_id",
                      content_col="text")
    # delete the current top hits of query 0 plus a spread of others
    top = wand.topk(spark, d, [(0, "spark join merge")], k=3).collect()
    deleted = [r["docid"] for r in top] + [7, 99, 250, 444]
    stats_before = spimi.load_stats(d)
    spimi.delete_documents(spark, deleted, d)
    assert spimi.load_stats(d)["n_docs"] == stats_before["n_docs"]  # Lucene-like

    oracle = _oracle(documents)
    excl = frozenset(deleted)
    got = wand.topk(spark, d, QUERIES, k=10).orderBy("query_id", "rank").collect()
    want = []
    for qid, text in QUERIES:
        for rank, docid, score in oracle.topk(text, 10, exclude=excl):
            want.append((qid, rank, docid, score))
    assert [(r["query_id"], r["rank"], r["docid"]) for r in got] == [
        (q, r, dd) for q, r, dd, _ in want
    ]
    got_ids = {r["docid"] for r in got}
    assert not (got_ids & excl)

    # deletes survive a subsequent generation append
    extra = documents.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    spimi.add_documents(spark, extra, d, id_col="doc_id", content_col="text")
    got2 = wand.topk(spark, d, [(0, "spark join merge")], k=10).collect()
    assert not ({r["docid"] for r in got2} & excl)


def test_readd_after_delete(spark, documents, tmp_path_factory):
    """Generation-ordered tombstones: delete docid X, then re-add X with new
    content — the new document is visible (scoring AND positional paths),
    the old content stays dead, and compaction equals a fresh build over the
    surviving corpus (byte-identical manifests)."""
    d = str(tmp_path_factory.mktemp("idx_readd"))
    spimi.build_index(spark, documents, d, n_shards=8, id_col="doc_id",
                      content_col="text", positions=True)
    old_text = documents.filter(F.col("doc_id") == 5).collect()[0]["text"]
    old_term = next(t for t in old_text.lower().split() if t.isalpha())
    spimi.delete_documents(spark, [5], d)
    new5 = documents.filter(F.col("doc_id") == 5).withColumn(
        "text", F.lit("zzreadd marker zzreadd marker")
    )
    spimi.add_documents(spark, new5, d, id_col="doc_id", content_col="text")

    # new content matches through WAND and the positional index
    got = wand.topk(spark, d, [(0, "zzreadd")], k=10).collect()
    assert [r["docid"] for r in got] == [5]
    ph = phrase.phrase_match(spark, d, "zzreadd marker").collect()
    assert [(r["docid"], r["n_occurrences"]) for r in ph] == [(5, 2)]
    # old content is dead: a term from the old text never returns doc 5
    got_old = wand.topk(spark, d, [(0, old_term)], k=600).collect()
    assert 5 not in {r["docid"] for r in got_old} or "zzreadd" in old_text

    # compaction == fresh build over (corpus − old 5) ∪ new 5
    compacted = str(tmp_path_factory.mktemp("idx_readd_compact"))
    spimi.compact_index(spark, d, compacted)
    fresh = str(tmp_path_factory.mktemp("idx_readd_fresh"))
    surviving = documents.filter(F.col("doc_id") != 5).unionByName(new5)
    spimi.build_index(spark, surviving, fresh, n_shards=8, id_col="doc_id",
                      content_col="text", positions=True)
    man_a = {(r["generation"], r["shard"]): r["checksum"]
             for r in spimi.load_manifest(spark, compacted).collect()}
    man_b = {(r["generation"], r["shard"]): r["checksum"]
             for r in spimi.load_manifest(spark, fresh).collect()}
    assert man_a == man_b


def test_compaction_equals_fresh_build(spark, documents, tmp_path_factory):
    """build + add + delete + compact must be BYTE-IDENTICAL (manifest
    checksums) to a from-scratch build over the surviving corpus, restoring
    exact-stats BM25 semantics after deletes."""
    live = str(tmp_path_factory.mktemp("idx_live"))
    base = documents.filter(F.col("doc_id") < 400)
    extra = documents.filter(F.col("doc_id") >= 400)
    deleted = [1, 7, 42, 99, 250, 401, 499]
    spimi.build_index(spark, base, live, n_shards=8, id_col="doc_id",
                      content_col="text")
    spimi.add_documents(spark, extra, live, id_col="doc_id", content_col="text")
    spimi.delete_documents(spark, deleted, live)

    compacted = str(tmp_path_factory.mktemp("idx_compact"))
    stats = spimi.compact_index(spark, live, compacted)
    assert stats["n_docs"] == 500 - len(deleted)  # exact stats restored

    fresh = str(tmp_path_factory.mktemp("idx_fresh"))
    surviving = documents.filter(~F.col("doc_id").isin(deleted))
    spimi.build_index(spark, surviving, fresh, n_shards=8, id_col="doc_id",
                      content_col="text")

    man_a = {r["shard"]: r["checksum"]
             for r in spimi.load_manifest(spark, compacted).collect()}
    man_b = {r["shard"]: r["checksum"]
             for r in spimi.load_manifest(spark, fresh).collect()}
    assert man_a == man_b

    got = wand.topk(spark, compacted, QUERIES, k=10).orderBy("query_id", "rank").collect()
    ref = wand.topk(spark, fresh, QUERIES, k=10).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_compact_ignores_stale_pending(spark, documents, tmp_path_factory):
    """A reused compaction target with leftover pending metadata from a
    killed run must not commit phantom shards."""
    import json as _json
    import os as _os

    live = str(tmp_path_factory.mktemp("idx_live2"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 100), live,
                      n_shards=4, id_col="doc_id", content_col="text")
    target = str(tmp_path_factory.mktemp("idx_tgt"))
    stale = f"{target}/manifest_pending/gen0"
    _os.makedirs(stale)
    with open(f"{stale}/shard_99.json", "w") as f:
        _json.dump({"shard": 99, "n_terms": 1, "n_postings": 1, "n_docs": 1,
                    "sum_doclen": 1, "n_bytes": 1, "checksum": "dead"}, f)
    spimi.compact_index(spark, live, target)
    shards = {r["shard"] for r in spimi.load_manifest(spark, target).collect()}
    assert 99 not in shards
    assert shards == set(range(4))


def test_compact_all_tombstoned_raises(spark, documents, tmp_path_factory):
    live = str(tmp_path_factory.mktemp("idx_live3"))
    docs = documents.filter(F.col("doc_id") < 20)
    spimi.build_index(spark, docs, live, n_shards=4, id_col="doc_id",
                      content_col="text")
    spimi.delete_documents(spark, list(range(20)), live)
    target = str(tmp_path_factory.mktemp("idx_tgt2"))
    with pytest.raises(ValueError, match="empty index"):
        spimi.compact_index(spark, live, target)


def test_compact_refuses_committed_target(spark, documents, tmp_path_factory):
    live = str(tmp_path_factory.mktemp("idx_live4"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 50), live,
                      n_shards=4, id_col="doc_id", content_col="text")
    with pytest.raises(ValueError, match="committed manifest"):
        spimi.compact_index(spark, live, live)


def test_batched_build_equals_single(spark, documents, tmp_path_factory):
    a = str(tmp_path_factory.mktemp("idx_a"))
    b = str(tmp_path_factory.mktemp("idx_b"))
    spimi.build_index(spark, documents, a, n_shards=8, id_col="doc_id",
                      content_col="text")
    spimi.build_index(spark, documents, b, n_shards=8, id_col="doc_id",
                      content_col="text", batch_shards=3)
    ca = {r["shard"]: r["checksum"] for r in spimi.load_manifest(spark, a).collect()}
    cb = {r["shard"]: r["checksum"] for r in spimi.load_manifest(spark, b).collect()}
    assert ca == cb


def test_v3_doclen_stream_matches_doc_table(spark, documents,
                                            tmp_path_factory):
    """Layout v3 (doclens=True): every post row carries a varbyte doclen
    stream aligned with its posting order, equal to the shard doc table's
    length for each posting's docid; non-v3 builds keep the column empty
    so checksums and byte-identity are unchanged."""
    from gazetteer_spark.index.codec import _varbyte_decode, decode_postings

    d = str(tmp_path_factory.mktemp("idx_v3stream"))
    spimi.build_index(spark, documents, d, n_shards=4,
                      id_col="doc_id", content_col="text", doclens=True)
    seg = spark.read.parquet(f"{d}/segments")
    doclen_of = {}
    for r in seg.filter(F.col("kind") == "docs").collect():
        ids, lens = decode_postings(bytes(r["postings"]))
        doclen_of.update(zip(ids.tolist(), lens.tolist()))
    posts = seg.filter(F.col("kind") == "post").collect()
    assert posts
    for r in posts:
        ids, _ = decode_postings(bytes(r["postings"]))
        dls = _varbyte_decode(bytes(r["doclens"]))
        assert [doclen_of[i] for i in ids.tolist()] == \
            [int(x) for x in dls], r["term"]

    d2 = str(tmp_path_factory.mktemp("idx_v2stream"))
    spimi.build_index(spark, documents, d2, n_shards=4,
                      id_col="doc_id", content_col="text")
    empty = (spark.read.parquet(f"{d2}/segments")
             .select(F.max(F.length("doclens"))).first()[0])
    assert empty == 0


def test_termstats_driver_fold_equals_spark(spark, documents,
                                            tmp_path_factory, monkeypatch):
    """The driver-side pyarrow termstats fold (DRIVER_TERMSTATS_MAX_ROWS
    gate) and the distributed Spark groupBy must produce identical
    (term, df, cf) tables — including across add/delete generations,
    where dead docs' postings stay counted until compaction."""
    import json

    d = str(tmp_path_factory.mktemp("tsfold"))
    spimi.build_index(
        spark, documents, d, n_shards=8, id_col="doc_id", content_col="text"
    )
    with open(f"{d}/build.json") as f:
        params = json.load(f)

    def read_ts():
        return sorted(tuple(r) for r in
                      spimi.load_termstats(spark, d).collect())

    # the build itself took the driver path (gate passes at test scale)
    drv = read_ts()
    assert len(drv) > 0
    monkeypatch.setattr(spimi, "DRIVER_TERMSTATS_MAX_ROWS", -1)
    spimi._refresh_derived(spark, d, params)
    assert read_ts() == drv

    # generations: add new docs, tombstone some originals
    monkeypatch.setattr(spimi, "DRIVER_TERMSTATS_MAX_ROWS", 4_000_000)
    add = documents.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    spimi.add_documents(spark, add, d, id_col="doc_id", content_col="text")
    spimi.delete_documents(spark, [7, 99, 250], d)
    drv2 = read_ts()
    monkeypatch.setattr(spimi, "DRIVER_TERMSTATS_MAX_ROWS", -1)
    spimi._refresh_derived(spark, d, params)
    assert read_ts() == drv2


def test_termstats_swap_survives_failure_between_renames(
        spark, documents, tmp_path_factory, monkeypatch):
    """The driver-side termstats refresh moves the old table aside before
    renaming the new one into place: a refresh that dies between the two
    renames leaves the old table readable through load_termstats (and
    the dictionary probe), and the next refresh swaps in a fresh table
    and drops the aside copy."""
    import json
    import os

    d = str(tmp_path_factory.mktemp("tsswap"))
    spimi.build_index(spark, documents.filter(F.col("doc_id") < 120), d,
                      n_shards=2, id_col="doc_id", content_col="text")

    def read_ts():
        return sorted(tuple(r) for r in
                      spimi.load_termstats(spark, d).collect())

    before = read_ts()
    assert before
    real_rename = os.rename

    def rename(src, dst):
        if src.endswith(".termstats.tmp"):
            raise OSError("injected: refresh died between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(spimi.os, "rename", rename)
    with pytest.raises(OSError, match="injected"):
        spimi.add_documents(
            spark, documents.filter(F.col("doc_id").between(120, 159)), d,
            id_col="doc_id", content_col="text")
    monkeypatch.setattr(spimi.os, "rename", real_rename)
    assert not os.path.isdir(f"{d}/termstats")
    assert read_ts() == before
    terms = [t for t, _, _ in before[:5]]
    assert wand._lookup_dfs_path(d, terms) == {
        t: df for t, df, _ in before[:5]}
    spimi.add_documents(
        spark, documents.filter(F.col("doc_id").between(160, 199)), d,
        id_col="doc_id", content_col="text")
    assert os.path.isdir(f"{d}/termstats")
    assert not os.path.exists(f"{d}/{spimi.TERMSTATS_ASIDE}")
    after = read_ts()
    assert after != before
    # complete: equal to the distributed fold over every committed gen
    with open(f"{d}/build.json") as f:
        params = json.load(f)
    monkeypatch.setattr(spimi, "DRIVER_TERMSTATS_MAX_ROWS", -1)
    spimi._refresh_derived(spark, d, params)
    assert read_ts() == after
