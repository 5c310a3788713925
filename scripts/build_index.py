"""spark-submit entry point: build the inverted index.

Usage:
  spark-submit --py-files gazetteer_spark.zip scripts/build_index.py \
      --source /path/to/source_parquet --out /path/to/index \
      [--n-shards 256] [--resume] [--batch-shards 32] \
      [--id-cols repo,path,commit] [--content-col content]

The source table is the BASELINE input shape
(repo, path, commit, lang, content); ``--id-cols`` picks the natural key
from which the deterministic 64-bit docid is derived. For tables that
already carry an integer id (e.g. documents.doc_id), pass --docid-col.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# robust without --py-files: resolve the package from the repo checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", default=None,
                    help="source parquet (required unless --compact-from "
                         "or --delete-ids)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-shards", type=int, default=32)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--add", action="store_true",
                    help="incremental append: new docs as a segment generation")
    ap.add_argument("--batch-shards", type=int, default=None)
    ap.add_argument("--id-cols", default="repo,path,commit")
    ap.add_argument("--docid-col", default=None)
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--doclens", action="store_true",
                    help="layout v3: store per-posting doclen streams so "
                         "term layouts build with one shuffle")
    ap.add_argument("--positions", action="store_true",
                    help="layout v2: per-term positions stream enabling "
                         "phrase/NEAR queries (scripts/query.py --mode "
                         "phrase|near)")
    ap.add_argument("--compact-from", default=None,
                    help="compact an existing index (apply tombstones, "
                         "merge generations) into --out instead of building")
    ap.add_argument("--delete-ids", default=None,
                    help="comma-separated docids to tombstone in --out")
    ap.add_argument("--delete-ids-from", default=None,
                    help="parquet of docids to tombstone in --out "
                         "(distributed — never through the driver); "
                         "id column via --docid-col (default 'docid')")
    ap.add_argument("--fields", default=None,
                    help="build a FIELDED (BM25F) index: "
                         "name=column pairs, e.g. body=content,path=path")
    ap.add_argument("--fuzzy-from", default=None,
                    help="build the fuzzy gram-over-dictionary layout at "
                         "--out from this existing index")
    ap.add_argument("--term-layout-from", default=None,
                    help="build the term-partitioned layout (term scans, "
                         "boolean AND, bucket-pruned BM25 via scripts/"
                         "query.py --mode layout-bm25) at --out from this "
                         "existing index")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="term-layout: number of term-hash partitions")
    ap.add_argument("--refresh-layout", default=None,
                    help="with --term-layout-from: bring this existing "
                         "layout snapshot up to date as a new layout at "
                         "--out (a rebuild at its bucket count and "
                         "positions setting; the old one stays readable)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from gazetteer_spark.docs import docid_expr
    from gazetteer_spark.index import spimi

    spark = SparkSession.builder.appName("gazetteer_build_index").getOrCreate()
    if args.compact_from:
        t0 = time.time()
        stats = spimi.compact_index(spark, args.compact_from, args.out)
        print(json.dumps({"compacted": args.out,
                          "sec": round(time.time() - t0, 2), **stats}))
        return
    if args.fuzzy_from:
        from gazetteer_spark import fuzzy

        t0 = time.time()
        fuzzy.build_fuzzy_layout(spark, args.fuzzy_from, args.out,
                                 n_shards=args.n_shards)
        print(json.dumps({"fuzzy_layout": args.out,
                          "sec": round(time.time() - t0, 2)}))
        return
    if args.term_layout_from:
        from gazetteer_spark.index import termindex

        t0 = time.time()
        if args.refresh_layout:
            termindex.refresh_term_layout(
                spark, args.term_layout_from, args.refresh_layout, args.out)
        else:
            termindex.build_term_layout(
                spark, args.term_layout_from, args.out,
                n_buckets=args.n_buckets)
        print(json.dumps({"term_layout": args.out,
                          "sec": round(time.time() - t0, 2)}))
        return
    if args.delete_ids or args.delete_ids_from:
        t0 = time.time()
        if args.delete_ids_from:
            ids_df = spark.read.parquet(args.delete_ids_from).select(
                args.docid_col or "docid")
            stats = spimi.delete_documents_df(
                spark, ids_df, args.out, id_col=args.docid_col or "docid")
            n = "df"
        else:
            ids = [int(x) for x in args.delete_ids.split(",") if x]
            stats = spimi.delete_documents(spark, ids, args.out)
            n = len(ids)
        print(json.dumps({"deleted": n, "index": args.out,
                          "sec": round(time.time() - t0, 2), **stats}))
        return
    if not args.source:
        raise SystemExit("--source is required for build/--add")
    src = spark.read.parquet(args.source)
    t0 = time.time()
    if args.docid_col:
        docs = src
        id_col = args.docid_col
    else:
        key = tuple(args.id_cols.split(","))
        docs = src.withColumn("docid", docid_expr(*key))
        id_col = "docid"
    if args.fields:
        from gazetteer_spark import fielded

        fields = dict(kv.split("=") for kv in args.fields.split(","))
        if args.add:
            stats = fielded.add_fielded_documents(
                spark, docs, args.out, fields, id_col=id_col)
        else:
            stats = fielded.build_fielded_index(
                spark, docs, args.out, fields, n_shards=args.n_shards,
                id_col=id_col, positions=args.positions,
                doclens=args.doclens)
    elif args.add:
        stats = spimi.add_documents(
            spark, docs, args.out, id_col=id_col, content_col=args.content_col
        )
    else:
        stats = spimi.build_index(
            spark, docs, args.out, n_shards=args.n_shards, id_col=id_col,
            content_col=args.content_col, resume=args.resume,
            batch_shards=args.batch_shards, positions=args.positions,
            doclens=args.doclens,
        )
    dt = time.time() - t0
    print(json.dumps({"built": args.out, "sec": round(dt, 2),
                      "files_per_sec": round(stats["n_docs"] / dt, 1), **stats}))


if __name__ == "__main__":
    sys.exit(main())
