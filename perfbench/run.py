"""Benchmark: bulk indexing and search over a seeded synthetic code corpus.

    python3 perfbench/run.py --workload build|search --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. One Spark session at local[nproc], one
closed-loop client (each request is sent after the previous one returned).
Every answer is checked against a DuckDB oracle (oracle.py) outside the
timed regions. End-to-end times are CPU seconds of the whole process tree
(this process, the Spark JVM, its Python workers), JIT compiler threads
left out: on a shared host the wall time of the same call swings with the
CPU the host steals, by more than the benchmark's bounds. Wall times go
to the info line. The last stdout line is the result JSON; the line before
it records the environment (nproc, versions, host steal ticks, per-sample
figures). ``--trace 1`` turns on the Spark event log and per-call job
groups and reports per-layer metrics instead of end-to-end ones. See
README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections import defaultdict

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

N_FILES = 1200        # corpus files (both workloads)
N_SHARDS = 8          # doc shards of the segment index
N_BUCKETS = 16        # term buckets of the layout
K = 10                # top-k of every ranked query
ADD_FILES = 120       # files per ingest cycle (traced build run)
DELETE_FILES = 4      # files tombstoned per ingest cycle
INGEST_CYCLES = 2
BATCHES = 1           # warm batches of the whole mix per search round

END_TO_END = ["setup_s", "cpu_s_per_op", "ops_per_cpu_s",
              "bytes_per_input_byte"]
UNITS = {"setup_s": "s", "cpu_s_per_op": "s", "ops_per_cpu_s": "1/s",
         "bytes_per_input_byte": "B/B"}
PER_LAYER = [
    "analyzer.postings_s",
    "spimi.build_index_s", "spimi.build_index_cpu_s",
    "spimi.build_index_jobs", "spimi.build_index_tasks",
    "spimi.build_index_shuffle_bytes", "spimi.segment_bytes",
    "termindex.layout_bytes",
    "termindex.build_term_layout_s", "termindex.build_term_layout_cpu_s",
    "termindex.build_term_layout_tasks",
    "termindex.build_term_layout_shuffle_bytes",
    "query.parse_s", "query.search_s", "query.search_cpu_s", "query.search_jobs",
    "termindex.bm25_topk_s", "termindex.phrase_match_s", "fuzzy.expand_s",
    "termindex.reader_open_s", "termindex.reader_search_s",
    "termindex.reader_search_cpu_s", "termindex.reader_search_jobs",
    "termindex.reader_batch_cpu_s",
    "spimi.add_documents_s", "spimi.add_documents_jobs",
    "spimi.delete_documents_s",
    "termindex.refresh_term_layout_s", "termindex.refresh_term_layout_cpu_s",
    "termindex.refresh_term_layout_tasks",
    "termindex.refresh_bytes_written",
    "termindex.refresh_rewritten_bucket_share", "spimi.generations",
]


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("_written"):
        return "B"
    if name.endswith("_share"):
        return "ratio"
    return "count"


# -- environment -------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")
NPROC = len(os.sched_getaffinity(0))


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def read_stat(path: str) -> tuple[str, int, list[int]] | None:
    try:
        with open(path) as f:
            return stats.proc_stat(f.read())
    except (OSError, ValueError, IndexError):
        return None  # the process or thread ended while it was read


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it (the Spark JVM, its Python daemon and workers, and the
    children they have reaped), less the JVM's JIT compiler threads.
    Compilation is the JVM warming up, not work of the engine, and it
    comes in bursts that would swamp one call's figure. Time the host
    stole from the machine's vCPUs is charged to no process."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := read_stat(f"/proc/{name}/stat")):
            procs[int(name)] = st
    kids = defaultdict(list)
    for pid, (_, ppid, _) in procs.items():
        kids[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids[pid])
        comm, _, ticks = procs.get(pid, ("", 0, [0]))
        total += sum(ticks)
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = read_stat(f"/proc/{pid}/task/{tid}/stat")
                if st and "Compiler" in st[0]:
                    total -= st[2][0] + st[2][1]
    return total / CLK_TCK


def du(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


def write_parquet(path: str, files: list[tuple[int, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "docid": pa.array([d for d, _ in files], pa.int64()),
        "content": [c for _, c in files]}), path)


class Tracer:
    """Times every call into a layer (wall and process-tree CPU seconds);
    with tracing on, also runs each call under its own Spark job group so
    jobs, tasks and shuffle bytes can be attributed to it afterwards."""

    def __init__(self, spark, on: bool):
        self.sc = spark.sparkContext
        self.on = on
        # layer → [(job group, wall s, CPU s)], one entry per call
        self.calls: dict[str, list[tuple[str, float, float]]] = defaultdict(list)
        self.steal: list[float] = []  # steal share of CPU during each call
        self.last_ticks = 0           # steal ticks during the latest call
        self.last_cpu = 0.0           # process-tree CPU s of the latest call

    def call(self, layer: str, fn):
        group = f"{layer}#{len(self.calls[layer])}"
        if self.on:
            self.sc.setJobGroup(group, layer)
        s0, c0, t = steal_ticks(), tree_cpu_s(), time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t
        self.last_cpu = tree_cpu_s() - c0
        self.last_ticks = steal_ticks() - s0
        self.steal.append(stats.steal_share(self.last_ticks, dt, NPROC, CLK_TCK))
        if self.on:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.calls[layer].append((group, dt, self.last_cpu))
        return out, dt

    def counts(self) -> dict[str, tuple[int, int]]:
        """group → (jobs, completed tasks), read while the context lives."""
        tr = self.sc.statusTracker()
        out = {}
        for calls in self.calls.values():
            for group, _, _ in calls:
                jobs = tr.getJobIdsForGroup(group)
                tasks = 0
                for j in jobs:
                    info = tr.getJobInfo(j)
                    for s in (info.stageIds if info else []):
                        st = tr.getStageInfo(s)
                        tasks += st.numCompletedTasks if st else 0
                out[group] = (len(jobs), tasks)
        return out


def shuffle_bytes(event_dir: str) -> dict[str, int]:
    """group → shuffle bytes written, from the uncompressed event log."""
    stage_group: dict[int, str] = {}
    by_stage: dict[int, int] = defaultdict(int)
    for name in os.listdir(event_dir):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for s in ev["Stage IDs"]:
                            stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    w = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    by_stage[ev["Stage ID"]] += int(w)
    out: dict[str, int] = defaultdict(int)
    for s, b in by_stage.items():
        if s in stage_group:
            out[stage_group[s]] += b
    return out


# -- checks ------------------------------------------------------------------

def ranked(rows, qid: int | None = None) -> list[tuple[int, float]]:
    rows = [r for r in rows if qid is None or r["query_id"] == qid]
    return [(int(r["docid"]), float(r["score"]))
            for r in sorted(rows, key=lambda r: r["rank"])]


def same_ranking(got: list, want: list) -> bool:
    """Rank for rank the same docids; scores equal at 4 dp (one unit of
    slack for summation-order rounding)."""
    return (len(got) == len(want)
            and all(g[0] == w[0] and abs(g[1] - w[1]) <= 1.0001e-4
                    for g, w in zip(got, want)))


# -- workloads ---------------------------------------------------------------

class Run:
    def __init__(self, args, spark, oracle_cls):
        self.args = args
        self.spark = spark
        self.tr = Tracer(spark, bool(args.trace))
        self.oracle = oracle_cls()
        self.oracle_s = 0.0   # oracle work (wall s), excluded from set-up
        self.oracle_cpu = 0.0  # and its CPU s
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.t_spark = time.perf_counter()

    def op(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n

    def oracle_do(self, fn):
        c, t = tree_cpu_s(), time.perf_counter()
        out = fn()
        self.oracle_s += time.perf_counter() - t
        self.oracle_cpu += tree_cpu_s() - c
        return out

    def setup_done(self) -> float:
        """CPU seconds of set-up (start of the process to the measured
        window, oracle work left out); its wall time goes to the info line."""
        self.info["setup_wall_s"] = time.perf_counter() - T_START - self.oracle_s
        self.tr.calls.clear()
        return tree_cpu_s() - self.oracle_cpu

    def corpus(self) -> tuple[str, int]:
        files = gen.corpus(self.args.seed, 0, N_FILES)
        path = os.path.join(WORK, "corpus.parquet")
        write_parquet(path, files)
        self.oracle_do(lambda: self.oracle.add_parquet(path))
        return path, gen.content_bytes(files)

    def build(self, docs, tag: str) -> tuple[str, str, dict]:
        """One pass: build_index then build_term_layout into fresh dirs,
        checked against the oracle. Returns the dirs and the pass's wall
        and CPU seconds per call."""
        from gazetteer_spark.index import spimi, termindex

        idx, lay = os.path.join(WORK, f"idx-{tag}"), os.path.join(WORK, f"lay-{tag}")
        _, t_idx = self.tr.call("spimi.build_index", lambda: spimi.build_index(
            self.spark, docs, idx, n_shards=N_SHARDS, positions=True,
            doclens=True))
        c_idx, ticks = self.tr.last_cpu, self.tr.last_ticks
        _, t_lay = self.tr.call(
            "termindex.build_term_layout", lambda: termindex.build_term_layout(
                self.spark, idx, lay, n_buckets=N_BUCKETS, positions=True))
        ok = self.oracle_do(lambda: self.build_ok(idx, lay))
        self.op(ok, 2)
        return idx, lay, {
            "idx_s": t_idx, "lay_s": t_lay,
            "idx_cpu_s": c_idx, "lay_cpu_s": self.tr.last_cpu,
            "steal": stats.steal_share(ticks + self.tr.last_ticks,
                                       t_idx + t_lay, NPROC, CLK_TCK)}

    def build_ok(self, idx: str, lay: str) -> bool:
        """Term statistics of the index and of the layout, and the corpus
        stats both carry, equal the oracle's."""
        want = self.oracle.term_stats()
        n, avgdl = self.oracle.corpus_stats()
        con = self.oracle.con
        got_idx = con.execute(
            f"SELECT term, df, cf FROM read_parquet('{idx}/termstats/*.parquet')"
            " ORDER BY term").fetchall()
        got_lay = con.execute(
            f"SELECT term, df, cf FROM read_parquet('{lay}/terms/*/*.parquet')"
            " ORDER BY term").fetchall()
        with open(f"{idx}/stats.json") as f:
            st = json.load(f)
        with open(f"{lay}/layout.json") as f:
            meta = json.load(f)
        return (got_idx == want and got_lay == want
                and st["n_docs"] == meta["n_docs"] == n
                and abs(st["avgdl"] - avgdl) <= 1e-9 * avgdl
                and abs(meta["avgdl"] - avgdl) <= 1e-9 * avgdl)

    # .. build ..................................................................

    def workload_build(self) -> dict:
        from gazetteer_spark import analyzer
        from gazetteer_spark.index import spimi

        path, in_bytes = self.corpus()
        docs = self.spark.read.parquet(path)
        # warm-up: a whole pass, then build_index once more, since the
        # JVM's first index build is still compiling its hot paths
        idx, lay, _ = self.build(docs, "warmup")
        shutil.rmtree(lay)
        shutil.rmtree(idx)
        spimi.build_index(self.spark, docs, idx, n_shards=N_SHARDS,
                          positions=True, doclens=True)
        shutil.rmtree(idx)
        setup = self.setup_done()

        passes, ratio = [], []
        t0 = time.perf_counter()
        idx = lay = None
        while len(passes) < 2 or time.perf_counter() - t0 < self.args.seconds:
            if idx:
                shutil.rmtree(idx)
                shutil.rmtree(lay)
            idx, lay, p = self.build(docs, str(len(passes)))
            passes.append(p)
            seg_b, lay_b = du(f"{idx}/segments"), du(f"{lay}/terms")
            ratio.append(stats.byte_ratio(seg_b + lay_b, in_bytes))
            if self.args.trace:
                self.layer["spimi.segment_bytes"] = seg_b
                self.layer["termindex.layout_bytes"] = lay_b
                self.tr.call("analyzer.postings", lambda: analyzer
                             .postings_positions_arrow(docs).write
                             .format("noop").mode("overwrite").save())

        def col(key: str) -> list[float]:
            return [p[key] for p in passes]

        wall = [a + b for a, b in zip(col("idx_s"), col("lay_s"))]
        cpu = [a + b for a, b in zip(col("idx_cpu_s"), col("lay_cpu_s"))]
        self.info.update(
            passes=len(passes), content_bytes=in_bytes,
            pass_s=[{k: round(v, 4) for k, v in p.items()} for p in passes],
            pass_wall_p50_s=stats.median(wall),
            index_files_per_s=stats.per_second(N_FILES, stats.median(col("idx_s"))),
            layout_files_per_s=stats.per_second(N_FILES, stats.median(col("lay_s"))))
        if self.args.trace:
            self.info["gates"] = gate_sides(idx, lay, 0)
            self.ingest(idx, lay)
        return {
            "setup_s": setup,
            "cpu_s_per_op": stats.median(cpu),
            "ops_per_cpu_s": stats.per_second(N_FILES, stats.median(col("idx_cpu_s"))),
            "bytes_per_input_byte": stats.median(ratio),
        }

    def ingest(self, idx: str, lay: str) -> None:
        """Adds, tombstones and layout refreshes on the built index, for
        the write-side layer rows of the traced run."""
        from gazetteer_spark import query
        from gazetteer_spark.index import spimi, termindex

        spark = self.spark
        vocab = gen.Vocab(self.args.seed)
        deleted: list[int] = []
        written, share = [], []
        for c in range(INGEST_CYCLES):
            start = N_FILES + c * ADD_FILES
            files = gen.corpus(self.args.seed, start, ADD_FILES)
            path = os.path.join(WORK, f"add-{c}.parquet")
            write_parquet(path, files)
            self.oracle_do(lambda: self.oracle.add_parquet(path))
            self.tr.call("spimi.add_documents", lambda: spimi.add_documents(
                spark, spark.read.parquet(path), idx))
            gone = [start - 1 - 7 * j for j in range(DELETE_FILES)]
            self.tr.call("spimi.delete_documents",
                         lambda: spimi.delete_documents(spark, gone, idx))
            self.oracle_do(lambda: self.oracle.delete(gone))
            deleted += gone
            new = os.path.join(WORK, f"lay-r{c}")
            self.tr.call("termindex.refresh_term_layout",
                         lambda: termindex.refresh_term_layout(
                             spark, idx, lay, new))
            written.append(du(f"{new}/terms"))
            share.append(rewritten_share(f"{lay}/terms", f"{new}/terms"))
            lay = new
            # every added file is found at rank 1 by its unique term, and
            # no deleted file is returned by its own
            probe = [(d, vocab.unique(d - 1)) for d, _ in files] + \
                    [(d, vocab.unique(d - 1)) for d in deleted]
            rows, _ = self.tr.call("query.search", lambda: query.search_batch(
                spark, lay, probe, k=1).collect())
            top = {r["query_id"]: r["docid"] for r in rows if r["rank"] == 1}
            self.op(all(top.get(d) == d for d, _ in files)
                    and not any(d in top for d in deleted), len(probe))
            mix = dict(enumerate(q for _, q in gen.query_mix(
                self.args.seed, N_FILES, tag=f"ingest{c}")[:9]))
            want = self.oracle_do(lambda: self.oracle.answers(mix, K))
            for qid, q in mix.items():
                rows, _ = self.tr.call("query.search", lambda: query.search(
                    spark, lay, gen.render(q), k=K).collect())
                self.op(same_ranking(ranked(rows), want[qid]))
        self.layer["termindex.refresh_bytes_written"] = stats.median(written)
        self.layer["termindex.refresh_rewritten_bucket_share"] = stats.median(share)
        self.layer["spimi.generations"] = len(spimi.committed_generations(idx))

    # .. search .................................................................

    def workload_search(self) -> dict:
        from gazetteer_spark import fuzzy, query
        from gazetteer_spark.index import termindex

        spark = self.spark
        path, in_bytes = self.corpus()
        docs = spark.read.parquet(path)
        idx, lay, _ = self.build(docs, "0")
        t_built = time.perf_counter()
        fz = os.path.join(WORK, "fuzzy")
        fuzzy.build_fuzzy_layout(spark, idx, fz)
        t_fuzzy = time.perf_counter()
        mix = gen.query_mix(self.args.seed, N_FILES)
        warm = [q for q in gen.query_mix(self.args.seed, N_FILES, tag="warmup")
                if q[0] in ("bool", "phrase", "fuzzy")]
        texts = [gen.render(q) for _, q in mix]
        want = self.oracle_do(lambda: self.oracle.answers(
            {i: q for i, (_, q) in enumerate(mix)}, K))
        want_w = self.oracle_do(lambda: self.oracle.answers(
            {i: q for i, (_, q) in enumerate(warm)}, K))

        def cold(text: str):
            return ranked(self.tr.call("query.search", lambda: query.search(
                spark, lay, text, k=K, fuzzy_dir=fz).collect())[0])

        def batch(reader, qs: list[str]):
            rows, dt = self.tr.call("termindex.reader_batch", lambda: reader.search(
                list(enumerate(qs)), k=K, fuzzy_dir=fz).collect())
            return {i: ranked(rows, i) for i in range(len(qs))}, dt

        # warm-up: the slowest query kinds run once cold before anything
        # is timed
        for i, (_, q) in enumerate(warm):
            self.op(same_ranking(cold(gen.render(q)), want_w[i]))
        setup = self.setup_done()
        self.info["setup_parts_s"] = {
            "spark": round(self.t_spark - T_START, 3),
            "build": round(t_built - self.t_spark, 3),
            "fuzzy": round(t_fuzzy - t_built, 3),
            "warmup": round(time.perf_counter() - t_fuzzy, 3)}

        cpu_by_kind: dict[str, list[float]] = defaultdict(list)
        cold_s, cold_cpu, batch_s, batch_cpu = [], [], [], []
        t0 = time.perf_counter()
        rounds = 0
        while rounds == 0 or time.perf_counter() - t0 < self.args.seconds:
            # cold: no reader is open (an open reader's cached table
            # replaces the cold path's pruned scan — see README)
            answers = {}
            for i, (kind, _) in enumerate(mix):
                answers[i] = cold(texts[i])
                cold_s.append(self.tr.calls["query.search"][-1][1])
                cold_cpu.append(self.tr.last_cpu)
                cpu_by_kind[kind].append(self.tr.last_cpu)
                self.op(same_ranking(answers[i], want[i]))
            reader, _ = self.tr.call("termindex.reader_open",
                                     lambda: termindex.TermLayoutReader(spark, lay))
            for _ in range(BATCHES):
                got, dt = batch(reader, texts)
                batch_s.append(dt)
                batch_cpu.append(self.tr.last_cpu)
                self.op(all(got[i] == answers[i]
                            and same_ranking(got[i], want[i]) for i in want))
            if self.args.trace:
                self.search_layers(reader, idx, lay, fz, mix, answers)
                self.info["gates"] = gate_sides(idx, lay, self.oracle_do(
                    lambda: self.oracle.max_leaf_terms(dict(enumerate(
                        q for _, q in mix)))))
            reader.close()
            rounds += 1
        self.info.update(
            rounds=rounds, content_bytes=in_bytes, queries_per_round=len(mix),
            cold_s=[[round(x, 3), round(y, 3)] for x, y in zip(cold_s, cold_cpu)],
            batch_s=[[round(x, 3), round(y, 3)] for x, y in zip(batch_s, batch_cpu)],
            cold_wall_p50_s=stats.median(cold_s),
            batch_queries_per_s=stats.per_second(len(mix), stats.median(batch_s)),
            cold_cpu_p50_by_kind={k: round(stats.median(v), 4)
                                  for k, v in cpu_by_kind.items()})
        p90 = stats.p90(cold_s)
        if p90 is not None:
            self.info["cold_query_p90_s"] = p90
        return {
            "setup_s": setup,
            "cpu_s_per_op": stats.mean(cold_cpu),
            "ops_per_cpu_s": stats.per_second(len(mix), stats.median(batch_cpu)),
            "bytes_per_input_byte": stats.byte_ratio(
                du(f"{idx}/segments") + du(f"{lay}/terms") + du(fz), in_bytes),
        }

    def search_layers(self, reader, idx, lay, fz, mix, answers) -> None:
        """Per-layer calls of the traced run, on every other query of the
        mix (the traced run must stay well inside its time limit): the
        query warm on its own, its parse, and the layer call that serves
        its leaf kind."""
        from gazetteer_spark import fuzzy, query
        from gazetteer_spark.index import termindex

        spark = self.spark
        for i, (kind, q) in list(enumerate(mix))[1::2]:
            text = gen.render(q)
            self.tr.call("query.parse", lambda: query.parse(text))
            rows, _ = self.tr.call("termindex.reader_search", lambda: reader.search(
                [(0, text)], k=K, fuzzy_dir=fz).collect())
            self.op(ranked(rows) == answers[i])
            if kind in ("unique", "rare", "hot", "and2", "and4", "camel", "snake"):
                self.tr.call("termindex.bm25_topk", lambda: termindex.bm25_topk(
                    spark, lay, [(0, text)], k=K).collect())
            elif kind == "phrase":
                self.tr.call("termindex.phrase_match", lambda: termindex
                             .phrase_match(spark, lay, [(0, q[1][0][1])]).collect())
            elif kind == "fuzzy":
                self.tr.call("fuzzy.expand", lambda: fuzzy.fuzzy_terms_edit(
                    spark, fz, q[1], q[2]).collect())
            elif kind == "prefix":
                self.tr.call("fuzzy.expand", lambda: fuzzy.prefix_terms(
                    spark, idx, q[1]).collect())


def gate_sides(idx: str, lay: str, leaf_terms: int) -> dict:
    """Which side of each engine size gate this workload's index falls
    on, from the index and layout metadata (manifest, parquet footers)."""
    import pyarrow.parquet as pq
    from gazetteer_spark import query
    from gazetteer_spark.index import spimi, termindex

    man = pq.read_table(f"{idx}/manifest",
                        columns=["n_terms", "n_docs", "n_bytes"])
    n_terms = sum(man["n_terms"].to_pylist())
    n_docs = sum(man["n_docs"].to_pylist())
    seg_bytes = sum(man["n_bytes"].to_pylist())
    max_df, post_bytes = 0, 0
    for d, _, names in os.walk(f"{lay}/terms"):
        for n in names:
            if n.endswith(".parquet"):
                pf = pq.ParquetFile(os.path.join(d, n))
                ci = pf.schema_arrow.names.index("postings")
                for g in range(pf.metadata.num_row_groups):
                    post_bytes += pf.metadata.row_group(g).column(
                        ci).total_compressed_size
                dfs = pf.read(columns=["df"])["df"].to_pylist()
                max_df = max([max_df] + dfs)
    replicate = N_BUCKETS * 8 * n_docs
    return {
        "DRIVER_TERMSTATS_MAX_ROWS": [n_terms, spimi.DRIVER_TERMSTATS_MAX_ROWS,
                                      "driver" if n_terms <= spimi
                                      .DRIVER_TERMSTATS_MAX_ROWS else "spark"],
        "PROBE_BLOB_BUDGET": [post_bytes, termindex.PROBE_BLOB_BUDGET,
                              "driver" if post_bytes <= termindex
                              .PROBE_BLOB_BUDGET else "per-query"],
        "INLINE_GATE_DF": [max_df, termindex.INLINE_GATE_DF,
                           "inline" if max_df <= termindex.INLINE_GATE_DF
                           else "fetch"],
        "REPLICATE_DOCS_FLOOR": [replicate, max(seg_bytes, termindex
                                                .REPLICATE_DOCS_FLOOR),
                                 "not consulted (doclens=True source)"],
        "MAX_LITERAL_TMAP": [leaf_terms, query.MAX_LITERAL_TMAP,
                             "literal map" if leaf_terms <= query
                             .MAX_LITERAL_TMAP else "broadcast join"],
    }


def rewritten_share(old: str, new: str) -> float:
    """Share of the new layout's buckets whose files differ from the old
    layout's (a bucket copied verbatim keeps its file names)."""
    buckets = sorted(os.listdir(new))
    buckets = [b for b in buckets if b.startswith("bucket=")]
    changed = sum(
        1 for b in buckets
        if not os.path.isdir(os.path.join(old, b))
        or sorted(os.listdir(os.path.join(old, b)))
        != sorted(os.listdir(os.path.join(new, b))))
    return changed / len(buckets)


def layer_metrics(run: Run, counts, shuffle) -> dict[str, float]:
    out = {name: 0.0 for name in PER_LAYER}
    for layer, calls in run.tr.calls.items():
        groups = [g for g, _, _ in calls]
        out[f"{layer}_s"] = stats.median([dt for _, dt, _ in calls])
        out[f"{layer}_cpu_s"] = stats.median([c for _, _, c in calls])
        out[f"{layer}_jobs"] = stats.median([counts[g][0] for g in groups])
        out[f"{layer}_tasks"] = stats.median([counts[g][1] for g in groups])
        out[f"{layer}_shuffle_bytes"] = stats.median(
            [shuffle.get(g, 0) for g in groups])
    out.update(run.layer)
    return {name: out[name] for name in PER_LAYER}


def stop_jvm() -> None:
    """End the JVM that pyspark launched (its Python workers end with it)
    and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gazetteer_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds gazetteer_spark/",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    tmp, events = os.path.join(WORK, "tmp"), os.path.join(WORK, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    # Spark's Python workers import the engine from the checkout; scratch
    # files of the JVM, Python and DuckDB stay under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "local")
    sys.path.insert(0, ROOT)
    steal0 = steal_ticks()

    import duckdb
    import pyarrow
    import pyspark
    from oracle import Oracle
    from gazetteer_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            # compiler threads live as long as the JVM, so tree_cpu_s can
            # take their time out of the JVM's total
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(app_name="perfbench", cores=NPROC, extra_conf=conf)
    try:
        run = Run(args, spark, Oracle)
        run.oracle.con.execute(f"SET temp_directory = '{tmp}'")
        e2e = getattr(run, f"workload_{args.workload}")()
        counts = run.tr.counts() if args.trace else {}
        cores = spark.sparkContext.defaultParallelism
    finally:
        spark.stop()
        stop_jvm()
    if args.trace:
        metrics = layer_metrics(run, counts, shuffle_bytes(events))
        names, unit = PER_LAYER, layer_unit
    else:
        metrics, names, unit = e2e, END_TO_END, UNITS.get
    run.info.update(
        workload=args.workload, seed=args.seed, nproc=NPROC,
        spark_cores=cores, spark=pyspark.__version__,
        pyarrow=pyarrow.__version__, duckdb=duckdb.__version__,
        steal_ticks=steal_ticks() - steal0,
        calls_over_5pct_steal=sum(f > 0.05 for f in run.tr.steal),
        attempted=run.attempted,
        failed=run.failed, n_files=N_FILES,
        oracle_s=run.oracle_s, wall_s=time.perf_counter() - T_START)
    if args.trace:
        run.info["end_to_end"] = e2e
    print(json.dumps({"info": run.info}))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n], "unit": unit(n)} for n in names},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
