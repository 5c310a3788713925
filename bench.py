"""Benchmark harness — one JSON line on stdout.

Runs the engine's headline operations at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- index_build:   full SPIMI segment build over documents (files/sec)
- wand_batch:    block-max top-k for the 6-query batch (one job)
- query_p50:     per-query top-k latency, p50 over the batch run singly
- exact_batch:   exact (non-index) DataFrame BM25 for the same batch
- tokens_agg:    analyzer+postings aggregation throughput
- layout_build / layout_bm25_batch: term-partitioned layout build +
  the same batch served through a TermLayoutReader (bucket-pruned reads)
- pos_layout_build / layout_phrase_batch: POSITIONAL term layout build
  + the phrase batch served from O(query terms) buckets

Robustness to host CPU steal (the shared VM shows ±25% to 4× run-to-run
swings — BENCH.md control tables): every metric is measured with
``_measure`` — min-of-N passes where each pass reads /proc/stat steal
ticks before/after; a pass whose steal fraction exceeds STEAL_MAX of CPU
capacity is marked dirty, and up to MAX_EXTRA bonus passes run when ALL
scheduled passes were dirty. The reported figure is the GLOBAL min:
steal can only SLOW a pass, so the fastest pass is the honest
steady-state number regardless of its gate flag — the gate's only job
is to buy more attempts when every scheduled pass was degraded.
Dirty/extra counts are reported in the output JSON
(``steal_dirty_passes`` / ``steal_extra_passes``) so a noisy-window run
is self-describing. The box shows a ~1-2% steal baseline even when
quiet, hence a fractional threshold rather than a zero-delta test.

Scaling-efficiency evidence (N vs 4N parallelism) lives in
tools/bench_scaling.py → BENCH.md, since it needs two JVMs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gazetteer_spark.bm25 import doc_stats, score_queries  # noqa: E402
from gazetteer_spark.analyzer import postings_sql  # noqa: E402
from gazetteer_spark.index import spimi, wand  # noqa: E402
from gazetteer_spark.session import get_spark  # noqa: E402

QUERIES = [
    (0, "spark join merge"),
    (1, "window"),
    (2, "customer filter group sort"),
    (3, "batch stream vector"),
    (4, "the"),
    (5, "hash aggregate scan"),
]

STEAL_MAX = 0.05  # dirty = steal > 5% of machine CPU capacity during pass
_NCPU = os.cpu_count() or 1
_COUNTS = {"dirty": 0, "extra": 0}


def _steal_ticks() -> int:
    """Cumulative steal jiffies across all CPUs; -1 if unreadable."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])  # cpu user nice sys idle iowait irq sirq STEAL
    except Exception:
        return -1


def _measure(fn, passes: int, max_extra: int = 2) -> float:
    """min-of-N with steal gating (module docstring). fn() runs one pass."""
    results: list[tuple[float, bool]] = []
    i = 0
    while True:
        s0 = _steal_ticks()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        s1 = _steal_ticks()
        dirty = False
        if s0 >= 0 and s1 >= s0 and dt > 0:
            frac = ((s1 - s0) / 100.0) / (dt * _NCPU)
            dirty = frac > STEAL_MAX
        if dirty:
            _COUNTS["dirty"] += 1
        results.append((dt, dirty))
        i += 1
        if i < passes:
            continue
        if all(d for _, d in results) and (i - passes) < max_extra:
            _COUNTS["extra"] += 1
            continue
        break
    return min(dt for dt, _ in results)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("gazetteer_bench", cores=int(cpus))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    timings: dict[str, float] = {}

    idx_dir = tempfile.mkdtemp(prefix="gz_bench_idx_")
    try:
        # build runs keep distinct output dirs; the first serves queries
        built = {"i": 0}

        def build_pass():
            # doclens=True (layout v3): the per-posting doclen stream adds
            # ~1 byte/posting and no measurable build time, and drops the
            # term-layout build's doclen-resolve shuffle (~35% faster
            # layout_build) — the default an at-scale deployment would pick
            d = f"{idx_dir}/b{built['i']}"
            spimi.build_index(spark, docs, d, n_shards=int(cpus),
                              id_col="doc_id", content_col="text",
                              doclens=True)
            if built["i"] > 0:
                shutil.rmtree(d, ignore_errors=True)
            built["i"] += 1

        timings["index_build"] = _measure(build_pass, passes=2)
        keep = f"{idx_dir}/b0"
        files_per_sec = n_docs / timings["index_build"]

        # warm (JIT/code cache) then measure the batch as one job
        wand.topk(spark, keep, QUERIES[:1], k=10).collect()
        timings["wand_batch"] = _measure(
            lambda: wand.topk(spark, keep, QUERIES, k=10).collect(), passes=4
        )

        # per-query steal-gated MIN across passes, then the median across
        # queries: a steal burst during one pass can't poison the metric as
        # long as each query sees ONE clean measurement somewhere
        lat = [
            _measure(lambda q=q: wand.topk(spark, keep, [q], k=10).collect(),
                     passes=3)
            for q in QUERIES
        ]
        timings["query_p50"] = statistics.median(lat)

        # warm serving path: segments + termstats pinned in memory, term-df
        # driver cache populated by a first pass — steady-state latency
        reader = wand.IndexReader(spark, keep)
        for q in QUERIES:
            reader.topk([q], k=10).collect()
        warm = [
            _measure(lambda q=q: reader.topk([q], k=10).collect(), passes=4)
            for q in QUERIES
        ]
        timings["query_p50_warm"] = statistics.median(warm)
        reader.close()

        postings = postings_sql(docs, "doc_id", "text")
        ds = doc_stats(postings)
        timings["exact_batch"] = _measure(
            lambda: score_queries(spark, postings, ds, QUERIES, k=10).collect(),
            passes=4,
        )

        timings["tokens_agg"] = _measure(
            lambda: postings.groupBy("term").count().count(), passes=3
        )

        # round-5 serving path: BM25 from the term-partitioned layout —
        # build the layout from the committed index, then the same 6-query
        # batch through a reader (bucket-pruned reads, driver-side df probe)
        from gazetteer_spark.index import termindex

        lay = f"{idx_dir}/layout"
        timings["layout_build"] = _measure(
            lambda: termindex.build_term_layout(spark, keep, lay,
                                                n_buckets=int(cpus)),
            passes=1,
        )
        lreader = termindex.TermLayoutReader(spark, lay)
        lreader.topk(QUERIES, k=10).collect()  # warm-up pass
        timings["layout_bm25_batch"] = _measure(
            lambda: lreader.topk(QUERIES, k=10).collect(), passes=4
        )
        lreader.close()
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # positional layout (v2) build + batched phrase/NEAR serving — the
    # round-3 serving path: N positional queries in ONE pruned scan/job
    from gazetteer_spark.index import phrase

    pos_dir = tempfile.mkdtemp(prefix="gz_bench_pos_")
    try:
        pbuilt = {"i": 0}

        def pos_build_pass():
            d = f"{pos_dir}/p{pbuilt['i']}"
            spimi.build_index(spark, docs, d, n_shards=int(cpus),
                              id_col="doc_id", content_col="text",
                              positions=True)
            if pbuilt["i"] > 0:
                shutil.rmtree(d, ignore_errors=True)
            pbuilt["i"] += 1

        timings["index_build_pos"] = _measure(pos_build_pass, passes=2)
        pos_keep = f"{pos_dir}/p0"
        phrase.phrase_match_batch(
            spark, pos_keep, [(0, "key order")]).collect()

        def phrase_pass():
            phrase.phrase_match_batch(
                spark, pos_keep,
                [(0, "key order"), (1, "sort by"), (2, "group by")],
            ).collect()
            phrase.near_match_n_batch(
                spark, pos_keep, [(0, ["key", "order"]), (1, ["sort", "by"])],
                k=4,
            ).collect()

        timings["phrase_batch"] = _measure(phrase_pass, passes=3)

        # round-5 serving path: the same phrase batch from the POSITIONAL
        # term layout — point queries touch O(query terms) buckets instead
        # of all doc shards (rarest-term gate + candidate-bounded shuffle)
        play = f"{pos_dir}/layout"
        timings["pos_layout_build"] = _measure(
            lambda: termindex.build_term_layout(spark, pos_keep, play,
                                                n_buckets=int(cpus),
                                                positions=True),
            passes=1,
        )
        termindex.phrase_match(spark, play, [(0, "key order")]).collect()
        timings["layout_phrase_batch"] = _measure(
            lambda: termindex.phrase_match(
                spark, play,
                [(0, "key order"), (1, "sort by"), (2, "group by")],
            ).collect(),
            passes=3,
        )

        # round-5 serving path: the parsed-query front door over the same
        # positional layout — a boolean tree (mask compile, one bit_or
        # shuffle) plus a one-call filtered ranked search
        from gazetteer_spark import query as querymod

        querymod.match_layout(spark, play, "customer AND filter").collect()

        def frontdoor_pass():
            querymod.match_layout(
                spark, play,
                '(customer AND filter AND NOT group) OR "key order"',
            ).collect()
            querymod.search(spark, play, "spark AND (join OR merge)",
                            k=10).collect()

        timings["frontdoor_batch"] = _measure(frontdoor_pass, passes=3)

        # batched front door through a reader: 3 trees, ONE filter job
        # family + ONE scoring job over the bucket-pruned layout reads
        frontdoor_qs = [
            (0, '(customer AND filter AND NOT group) OR "key order"'),
            (1, "spark AND (join OR merge)"),
            (2, "window AND NOT group"),
        ]
        frd = termindex.TermLayoutReader(spark, play)
        frd.search(frontdoor_qs[:1], k=10).collect()  # warm
        timings["frontdoor_warm"] = _measure(
            lambda: frd.search(frontdoor_qs, k=10).collect(), passes=4
        )
        frd.close()
    finally:
        shutil.rmtree(pos_dir, ignore_errors=True)

    # credible build throughput needs enough work to amortize fixed costs:
    # 100k synthetic source files (~5 KB each), warm workers
    from gazetteer_spark.corpus import source_files
    from gazetteer_spark.docs import docid_expr

    n_big = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "100000"))
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="gz_bench_big_", dir=base)
    try:
        src = source_files(spark, n_big).withColumn(
            "docid", docid_expr("repo", "path", "commit")
        )
        src.write.mode("overwrite").parquet(f"{work}/source")
        big = spark.read.parquet(f"{work}/source")
        big.count()
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "512")  # > n_shards
        # five steal-gated runs, clean-preferred min: the first big build in
        # a process pays JIT/codegen warm-up and every run is exposed to
        # host-contention spikes (observed up to 10× run-to-run swings on
        # the shared VM — 70.5 → 7.5 s within one invocation; a quiet run
        # measures 5.8-7.9 s at 100k). No bonus passes — each run is tens of
        # seconds; five scheduled runs already ride out a steal burst.
        big_runs: list[float] = []
        bi = {"i": 0}

        def big_pass():
            d = f"{work}/idx{bi['i']}"
            t0 = time.time()
            spimi.build_index(spark, big, d, n_shards=128)
            big_runs.append(round(time.time() - t0, 3))
            shutil.rmtree(d, ignore_errors=True)
            bi["i"] += 1

        timings["index_build_100k"] = _measure(big_pass, passes=5,
                                               max_extra=0)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        files_per_sec_big = n_big / timings["index_build_100k"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "index-build + BM25 top-k wall time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "n_docs": n_docs,
                "files_per_sec": round(files_per_sec, 1),
                "files_per_sec_100k": round(files_per_sec_big, 1),
                "index_build_100k_runs": big_runs,
                "query_p50_sec": round(timings["query_p50"], 3),
                "query_p50_warm_sec": round(timings["query_p50_warm"], 3),
                "steal_dirty_passes": _COUNTS["dirty"],
                "steal_extra_passes": _COUNTS["extra"],
                "cpus": int(cpus),
            }
        )
    )


if __name__ == "__main__":
    main()
