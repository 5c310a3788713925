"""Independent answers for every query the benchmark sends.

DuckDB SQL over the generated parquet files tokenizes the corpus with the
engine's frozen chain (acronym split, camel split, lowercase, split on
``[^a-z0-9]+``, drop empties) and scores BM25 with k1=1.2, b=0.75, scores
rounded to 4 dp and ranked by (score desc, docid asc). Boolean, phrase,
NEAR, prefix and fuzzy matching are evaluated in Python over the token
positions that SQL produces. Nothing here imports the engine.

Tombstone semantics (the engine's documented ones): corpus stats (N,
avgdl) cover every file ever added; a deleted file never matches; df
counts the files that still hold the term, since the term layout merges
tombstones before it counts postings.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

K1 = 1.2
B = 0.75

TOKENS_SQL = (
    r"list_filter(string_split_regex(lower(regexp_replace(regexp_replace("
    r"{col}, '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'), '([a-z0-9])([A-Z])', "
    r"'\1 \2', 'g')), '[^a-z0-9]+'), x -> x <> '')"
)


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE tok(docid BIGINT, pos INT, term VARCHAR)")
        self.con.execute("CREATE TABLE dead(docid BIGINT)")

    def add_parquet(self, path: str) -> None:
        self.con.execute(
            "INSERT INTO tok SELECT docid, unnest(range(len(t))) AS pos, "
            "unnest(t) AS term FROM (SELECT docid, "
            + TOKENS_SQL.format(col="content")
            + f" AS t FROM read_parquet('{path}'))"
        )

    def delete(self, docids: list[int]) -> None:
        self.con.executemany("INSERT INTO dead VALUES (?)",
                             [(int(d),) for d in docids])

    def tokenize(self, texts: list[str]) -> dict[str, list[str]]:
        if not texts:
            return {}
        tbl = pa.table({"w": sorted(set(texts))})  # noqa: F841 (DuckDB scan)
        rows = self.con.execute(
            "SELECT w, " + TOKENS_SQL.format(col="w") + " FROM tbl"
        ).fetchall()
        return {w: list(t) for w, t in rows}

    def expand_fuzzy(self, word: str, k: int) -> list[str]:
        return [r[0] for r in self.con.execute(
            "SELECT DISTINCT term FROM tok WHERE levenshtein(term, ?) <= ?",
            [word, k]).fetchall()]

    def expand_prefix(self, prefix: str) -> list[str]:
        return [r[0] for r in self.con.execute(
            "SELECT DISTINCT term FROM tok WHERE starts_with(term, ?)",
            [prefix]).fetchall()]

    def positions(self, terms: set[str]) -> dict[str, dict[int, list[int]]]:
        """term → {live docid → sorted positions}."""
        if not terms:
            return {}
        tl = pa.table({"term": sorted(terms)})  # noqa: F841 (DuckDB scan)
        out: dict[str, dict[int, list[int]]] = {t: {} for t in terms}
        for term, docid, pos in self.con.execute(
            "SELECT term, docid, list(pos ORDER BY pos) FROM tok "
            "WHERE term IN (SELECT term FROM tl) "
            "AND docid NOT IN (SELECT docid FROM dead) GROUP BY term, docid"
        ).fetchall():
            out[term][docid] = pos
        return out

    def term_stats(self) -> list[tuple[str, int, int]]:
        """(term, df, cf) over live files, ordered by term."""
        return self.con.execute(
            "SELECT term, count(DISTINCT docid), count(*) FROM tok "
            "WHERE docid NOT IN (SELECT docid FROM dead) "
            "GROUP BY term ORDER BY term").fetchall()

    def corpus_stats(self) -> tuple[int, float]:
        """(N, avgdl) over every file ever added."""
        n, total = self.con.execute(
            "SELECT count(DISTINCT docid), count(*) FROM tok").fetchone()
        return int(n), total / n

    # -- the query semantics ------------------------------------------------

    def normalized(self, queries: dict[int, tuple]) -> dict[int, tuple]:
        """qid → the query tree with words analyzed and fuzzy/prefix
        leaves expanded over the dictionary."""
        words: set[str] = set()
        for ast in queries.values():
            _words(ast, words)
        toks = self.tokenize(sorted(words))
        return {qid: _normalize(ast, toks, self) for qid, ast in queries.items()}

    def max_leaf_terms(self, queries: dict[int, tuple]) -> int:
        """Most distinct leaf terms (expansions included) in one query."""
        out = 0
        for node in self.normalized(queries).values():
            terms: set[str] = set()
            _leaf_terms(node, terms)
            out = max(out, len(terms))
        return out

    def answers(self, queries: dict[int, tuple], k: int) -> dict[int, list]:
        """qid → [(docid, score)] top-k for each query AST (see gen.py)."""
        norm = self.normalized(queries)
        terms: set[str] = set()
        for node in norm.values():
            _leaf_terms(node, terms)
        pos = self.positions(terms)
        filt_rows, scored_rows = [], []
        for qid, node in norm.items():
            for d in _match(node, pos):
                filt_rows.append((qid, d))
            scored: set[str] = set()
            _positive(node, scored)
            scored_rows += [(qid, t) for t in sorted(scored)]
        qf = pa.table({"qid": [q for q, _ in filt_rows],  # noqa: F841
                       "docid": pa.array([d for _, d in filt_rows],
                                         pa.int64())})
        qt = pa.table({"qid": [q for q, _ in scored_rows],  # noqa: F841
                       "term": [t for _, t in scored_rows]})
        rows = self.con.execute(
            "WITH live AS (SELECT * FROM tok WHERE docid NOT IN "
            "  (SELECT docid FROM dead)), "
            "dl AS (SELECT docid, count(*) AS dl FROM tok GROUP BY docid), "
            "st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl), "
            "p AS (SELECT docid, term, count(*) AS tf FROM live "
            "  WHERE term IN (SELECT term FROM qt) GROUP BY docid, term), "
            "df AS (SELECT term, count(*) AS df FROM p GROUP BY term), "
            "s AS (SELECT qt.qid, p.docid, sum("
            "  ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))"
            f" * p.tf * {K1 + 1} / (p.tf + {K1} * ({1 - B} + {B} * dl.dl"
            "  / st.avgdl))) AS raw"
            "  FROM qt JOIN p ON p.term = qt.term"
            "  JOIN df ON df.term = qt.term JOIN dl ON dl.docid = p.docid"
            "  JOIN qf ON qf.qid = qt.qid AND qf.docid = p.docid"
            "  CROSS JOIN st GROUP BY qt.qid, p.docid) "
            "SELECT qid, docid, round(raw, 4) AS score FROM s "
            "QUALIFY row_number() OVER (PARTITION BY qid "
            f"  ORDER BY round(raw, 4) DESC, docid) <= {int(k)} "
            "ORDER BY qid, score DESC, docid"
        ).fetchall()
        out: dict[int, list] = {qid: [] for qid in queries}
        for qid, docid, score in rows:
            out[qid].append((int(docid), float(score)))
        return out


# AST nodes (built by gen.py): ("term", word) ("phrase", text, slop)
# ("fuzzy", word, k) ("prefix", word) ("and", [..]) ("or", [..]) ("not", x).
# Normalized leaves: ("t", term) ("seq", terms) ("near", terms, n)
# ("any", terms) — a fuzzy or prefix leaf expanded over the dictionary;
# FALSE matches nothing.
FALSE = ("false",)


def _words(ast, out: set) -> None:
    kind = ast[0]
    if kind in ("term", "phrase", "fuzzy", "prefix"):
        out.add(ast[1])
    elif kind == "not":
        _words(ast[1], out)
    else:
        for c in ast[1]:
            _words(c, out)


def _normalize(ast, toks: dict, oracle: Oracle):
    kind = ast[0]
    if kind == "term":
        ts = toks[ast[1]]
        if not ts:
            return FALSE
        return ("t", ts[0]) if len(ts) == 1 else ("and", [("t", t) for t in ts])
    if kind == "phrase":
        ts = toks[ast[1]]
        if not ts:
            return FALSE
        if len(ts) == 1:
            return ("t", ts[0])
        return ("near", ts, ast[2]) if ast[2] > 0 else ("seq", ts)
    if kind == "fuzzy":
        (w,) = toks[ast[1]]
        return ("any", oracle.expand_fuzzy(w, ast[2]))
    if kind == "prefix":
        (w,) = toks[ast[1]]
        return ("any", oracle.expand_prefix(w))
    if kind == "not":
        return ("not", _normalize(ast[1], toks, oracle))
    kids = [_normalize(c, toks, oracle) for c in ast[1]]
    if kind == "and":
        return FALSE if FALSE in kids else ("and", kids)
    kids = [c for c in kids if c != FALSE]
    return ("or", kids) if kids else FALSE


def _leaf_terms(node, out: set) -> None:
    kind = node[0]
    if kind == "t":
        out.add(node[1])
    elif kind in ("seq", "near", "any"):
        out.update(node[1])
    elif kind == "not":
        _leaf_terms(node[1], out)
    elif kind in ("and", "or"):
        for c in node[1]:
            _leaf_terms(c, out)


def _positive(node, out: set) -> None:
    """Terms that score: term leaves and fuzzy/prefix expansions not under
    a NOT. Phrase and NEAR leaves filter only."""
    kind = node[0]
    if kind == "t":
        out.add(node[1])
    elif kind == "any":
        out.update(node[1])
    elif kind in ("and", "or"):
        for c in node[1]:
            _positive(c, out)


def _match(node, pos: dict) -> set[int]:
    kind = node[0]
    if kind == "false":
        return set()
    if kind == "t":
        return set(pos[node[1]])
    if kind == "any":
        return set().union(*(pos[t] for t in node[1])) if node[1] else set()
    if kind in ("seq", "near"):
        ts = node[1]
        docs = set(pos[ts[0]]).intersection(*(pos[t] for t in ts[1:]))
        if kind == "seq":
            return {d for d in docs if _has_phrase(d, ts, pos)}
        return {d for d in docs if _has_near(d, ts, node[2], pos)}
    if kind == "and":
        pos_kids = [c for c in node[1] if c[0] != "not"]
        out = set.intersection(*(_match(c, pos) for c in pos_kids))
        for c in node[1]:
            if c[0] == "not":
                out -= _match(c[1], pos)
        return out
    if kind == "or":
        return set().union(*(_match(c, pos) for c in node[1]))
    raise ValueError(f"a bare NOT has no positive clause: {node!r}")


def _has_phrase(d: int, ts: list[str], pos: dict) -> bool:
    later = [set(pos[t][d]) for t in ts[1:]]
    return any(all(p + i + 1 in s for i, s in enumerate(later))
               for p in pos[ts[0]][d])


def _has_near(d: int, ts: list[str], n: int, pos: dict) -> bool:
    others = [pos[t][d] for t in ts[1:]]
    return any(all(any(abs(q - p) <= n for q in ps) for ps in others)
               for p in pos[ts[0]][d])
