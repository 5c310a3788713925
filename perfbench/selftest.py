"""Self-test of the benchmark's own arithmetic and oracle; needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


def check_stats() -> None:
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    # the p90 rule: none below 100 samples, nearest rank from there on
    assert stats.p90([1.0] * 99) is None
    assert stats.p90([float(i) for i in range(1, 101)]) == 90.0
    assert stats.p90([float(i) for i in range(1, 102)]) == 91.0
    assert stats.mean([1.0, 2.0, 6.0]) == 3.0
    assert stats.steal_share(40, 2.0, 4, 100) == 0.05
    # CPU ticks of a process whose name holds spaces and parentheses
    text = ("4242 (C2 Compiler) (x)) S 17 4242 1 0 -1 4194304 10 0 0 0 "
            "250 30 7 3 20 0 1 0 100 0 0")
    assert stats.proc_stat(text) == ("C2 Compiler) (x)", 17, [250, 30, 7, 3])
    assert stats.per_second(1200, 1.5) == 800.0
    assert stats.byte_ratio(500, 2000) == 0.25
    for bad in (lambda: stats.per_second(1, 0.0),
                lambda: stats.byte_ratio(1, 0),
                lambda: stats.median([]),
                lambda: stats.mean([])):
        try:
            bad()
        except ValueError:
            continue
        raise AssertionError("expected ValueError")


def check_oracle() -> None:
    from oracle import Oracle

    files = [
        (1, "parseIndex = build_segment(HTTPServer)"),
        (2, "index parse segment build"),
        (3, "merge segment merge segment"),
    ]
    with tempfile.TemporaryDirectory() as d:
        from run import write_parquet

        path = os.path.join(d, "t.parquet")
        write_parquet(path, files)
        o = Oracle()
        o.add_parquet(path)
        assert o.tokenize(["HTTPServer"]) == {"HTTPServer": ["http", "server"]}
        assert o.corpus_stats() == (3, 14 / 3)
        ans = o.answers({
            0: ("phrase", "parse index", 0),
            1: ("and", [("phrase", "parse segment", 2), ("term", "index")]),
            2: ("and", [("term", "segment"), ("not", ("term", "merge"))]),
            3: ("term", "xqnothere"),
            4: ("fuzzy", "merga", 1),
            5: ("prefix", "serv"),
        }, k=10)
        # a lone phrase filters but does not score, so it ranks nothing
        assert ans[0] == []
        assert [d for d, _ in ans[1]] == [2]
        assert sorted(d for d, _ in ans[2]) == [1, 2]
        assert ans[3] == []
        assert [d for d, _ in ans[4]] == [3]
        assert [d for d, _ in ans[5]] == [1]
        o.delete([3])
        assert o.answers({0: ("term", "merge")}, k=10)[0] == []
        assert o.corpus_stats()[0] == 3  # stats keep deleted files


def check_inputs() -> None:
    a, b = gen.corpus(7, 0, 20), gen.corpus(7, 0, 20)
    assert a == b and gen.corpus(8, 0, 20) != a
    mix = gen.query_mix(7, 20)
    assert [k for k, _ in mix] == gen.KINDS
    assert mix == gen.query_mix(7, 20)
    assert gen.render(("and", [("term", "a"), ("or", [("term", "b"),
                       ("term", "c")]), ("not", ("term", "d"))])) \
        == "a AND (b OR c) AND NOT d"


if __name__ == "__main__":
    check_stats()
    check_inputs()
    check_oracle()
    print("perfbench selftest: ok")
