"""spark-submit entry points exercised in-process: the CLI surface a
cluster user actually drives (build lifecycle + every query mode). Each
main() reuses the active test SparkSession via getOrCreate()."""

from __future__ import annotations

import json
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo/scripts")

import build_index as build_cli  # noqa: E402
import query as query_cli  # noqa: E402

from gazetteer_spark.analyzer import get_analyzer  # noqa: E402
from gazetteer_spark.index import termindex  # noqa: E402


@pytest.fixture(scope="module")
def cli_env(spark, documents, tmp_path_factory):
    work = tmp_path_factory.mktemp("cli")
    src = str(work / "src")
    documents.limit(200).write.mode("overwrite").parquet(src)
    return work, src


def _run(capsys, fn, argv):
    fn(argv)
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    return json.loads(lines[-1])


def test_cli_full_lifecycle(spark, documents, cli_env, capsys):
    work, src = cli_env
    idx = str(work / "idx")

    out = _run(capsys, build_cli.main, [
        "--source", src, "--out", idx, "--n-shards", "4",
        "--docid-col", "doc_id", "--content-col", "text", "--positions",
    ])
    assert out["n_docs"] == 200

    # disjunctive + phrase + ranked phrase + near-n against the same index
    got = _run(capsys, query_cli.main,
               ["--index", idx, "--query", "spark join", "--k", "5"])
    assert got["mode"] == "or"
    assert got["results"]["0"]  # query_id keys JSON-ify to strings

    got = _run(capsys, query_cli.main,
               ["--index", idx, "--query", "key order", "--mode", "phrase"])
    assert got["mode"] == "phrase"

    got = _run(capsys, query_cli.main,
               ["--index", idx, "--query", "key order", "--mode",
                "phrase-topk", "--k", "3"])
    assert got["mode"] == "phrase-topk"

    got = _run(capsys, query_cli.main,
               ["--index", idx, "--query", "key order sort", "--mode",
                "near-n", "--near-k", "4"])
    assert got["mode"] == "near-n"

    # distributed delete from a parquet of ids, then compact
    removals = str(work / "removals")
    spark.read.parquet(src).select("doc_id").limit(5) \
        .write.mode("overwrite").parquet(removals)
    out = _run(capsys, build_cli.main, [
        "--out", idx, "--delete-ids-from", removals, "--docid-col", "doc_id",
    ])
    assert out["deleted"] == "df"
    idx2 = str(work / "idx2")
    out = _run(capsys, build_cli.main, ["--compact-from", idx, "--out", idx2])
    assert out["compacted"] == idx2


def test_cli_fielded_and_fuzzy(spark, documents, cli_env, capsys):
    work, src = cli_env
    fidx = str(work / "fidx")
    out = _run(capsys, build_cli.main, [
        "--source", src, "--out", fidx, "--n-shards", "4",
        "--docid-col", "doc_id", "--fields", "body=text,src=source",
        "--positions",
    ])
    assert out["n_docs"] == 200

    got = _run(capsys, query_cli.main, [
        "--index", fidx, "--query", "spark join src13", "--mode", "fielded",
        "--boosts", "body=1,src=2", "--k", "5",
    ])
    assert got["mode"] == "fielded" and got["results"]

    got = _run(capsys, query_cli.main, [
        "--index", fidx, "--query", "key order", "--mode", "fielded-phrase",
        "--field", "body",
    ])
    assert got["mode"] == "fielded-phrase" and got["results"]

    got = _run(capsys, query_cli.main, [
        "--index", fidx, "--query", "key order", "--mode", "fielded-near",
        "--field", "body", "--near-k", "3",
    ])
    assert got["mode"] == "fielded-near" and got["results"]

    fz = str(work / "fuzzy")
    out = _run(capsys, build_cli.main, ["--fuzzy-from", fidx, "--out", fz,
                                        "--n-shards", "2"])
    assert out["fuzzy_layout"] == fz
    got = _run(capsys, query_cli.main, [
        "--index", fidx, "--mode", "fuzzy", "--fuzzy-layout", fz,
        "--query", "par",
    ])
    assert got["mode"] == "fuzzy" and got["results"]


def test_cli_term_layout_and_edit_fuzzy(spark, documents, cli_env, capsys):
    """Round-5 CLI surface: term-layout build + layout-served BM25, and
    typo-tolerant (edit-distance) fuzzy retrieval."""
    work, src = cli_env
    idx = str(work / "idx_tl")
    _run(capsys, build_cli.main, [
        "--source", src, "--out", idx, "--n-shards", "4",
        "--docid-col", "doc_id", "--content-col", "text",
    ])

    lay = str(work / "tl")
    out = _run(capsys, build_cli.main, [
        "--term-layout-from", idx, "--out", lay, "--n-buckets", "8",
    ])
    assert out["term_layout"] == lay

    got = _run(capsys, query_cli.main, [
        "--index", idx, "--mode", "layout-bm25", "--term-layout", lay,
        "--query", "spark join", "--k", "5",
    ])
    assert got["mode"] == "layout-bm25" and got["results"]["0"]
    got = _run(capsys, query_cli.main, [
        "--index", idx, "--mode", "layout-and", "--term-layout", lay,
        "--query", "spark join", "--k", "5",
    ])
    assert got["mode"] == "layout-and" and got["results"]["0"]
    # rank-identical to the doc-sharded path on the same corpus
    ref = _run(capsys, query_cli.main,
               ["--index", idx, "--query", "spark join", "--k", "5"])
    assert got["results"] == ref["results"]

    fz = str(work / "fuzzy_edit")
    _run(capsys, build_cli.main, ["--fuzzy-from", idx, "--out", fz,
                                  "--n-shards", "2"])
    got = _run(capsys, query_cli.main, [
        "--index", idx, "--mode", "fuzzy-edit", "--fuzzy-layout", fz,
        "--query", "windoww", "--max-edits", "1",
    ])
    assert got["mode"] == "fuzzy-edit" and got["results"]["0"]

    # add documents, then --refresh-layout the snapshot into a new dir:
    # the new layout serves the added docs, the old one stays readable
    # as a stale snapshot
    add_src = str(work / "src_add")
    documents.join(spark.read.parquet(src).select("doc_id"), "doc_id",
                   "left_anti").limit(40).write.parquet(add_src)
    added = spark.read.parquet(add_src).orderBy("doc_id").first()
    _run(capsys, build_cli.main, [
        "--source", add_src, "--out", idx, "--add",
        "--docid-col", "doc_id", "--content-col", "text",
    ])
    lay1 = str(work / "tl_refreshed")
    out = _run(capsys, build_cli.main, [
        "--term-layout-from", idx, "--refresh-layout", lay, "--out", lay1,
    ])
    assert out["term_layout"] == lay1
    term = get_analyzer("default").py_tokenize(added["text"])[0]

    def docids(layout, **kw):
        return {r["docid"] for r in termindex.term_postings(
            spark, layout, [term], **kw).collect()}

    assert added["doc_id"] in docids(lay1)
    assert added["doc_id"] not in docids(lay, allow_stale=True)
    with pytest.raises(ValueError, match="STALE"):
        docids(lay)
    got = _run(capsys, query_cli.main, [
        "--index", idx, "--mode", "layout-bm25", "--term-layout", lay1,
        "--query", "spark join", "--k", "5",
    ])
    assert got["results"]["0"]


def test_cli_fielded_term_layout_bm25f(spark, documents, cli_env, capsys):
    """Fielded v3 build (--fields + --doclens) → term layout → ranked
    BM25F served from the layout via the CLI, rank-identical to the
    doc-sharded fielded mode on the same corpus."""
    work, src = cli_env
    fidx = str(work / "fidx_v3")
    out = _run(capsys, build_cli.main, [
        "--source", src, "--out", fidx, "--n-shards", "4",
        "--docid-col", "doc_id", "--fields", "body=text,src=source",
        "--doclens",
    ])
    assert out["n_docs"] == 200

    lay = str(work / "ftl")
    out = _run(capsys, build_cli.main, [
        "--term-layout-from", fidx, "--out", lay, "--n-buckets", "8",
    ])
    assert out["term_layout"] == lay

    got = _run(capsys, query_cli.main, [
        "--index", fidx, "--mode", "layout-bm25f", "--term-layout", lay,
        "--query", "spark join src13", "--boosts", "body=1,src=2",
        "--k", "5",
    ])
    assert got["mode"] == "layout-bm25f" and got["results"]["0"]
    ref = _run(capsys, query_cli.main, [
        "--index", fidx, "--query", "spark join src13", "--mode", "fielded",
        "--boosts", "body=1,src=2", "--k", "5",
    ])
    assert got["results"] == ref["results"]
