"""Seeded inputs for the benchmark: a synthetic source-code corpus and the
query mix that runs against it.

Everything here is a pure function of the seed and the sizes, written
without any import from the engine, so a change to the program cannot
change the inputs.

Corpus shape:

- hot terms: a dozen keyword-like words, each in most files;
- mid terms: a few hundred identifier roots drawn with a Zipf-like skew,
  written as camelCase or snake_case identifiers (``parseIndex``,
  ``parse_index``), so adjacent roots form phrases;
- rare terms: a thousand words, each in a few files;
- one unique term per file (``u<seed-tag><n>``), which is how the
  ingest workload finds every added file.
"""

from __future__ import annotations

import random
import re

N_HOT = 12
N_MID = 400
N_RARE = 1000
ALPHA = "abcdefghijklmnopqrstuvwxyz"
VOWELS = "aeiou"
CONSONANTS = "bcdfghjklmnprstvwz"


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(CONSONANTS) + rng.choice(VOWELS)
                   for _ in range(syllables))


class Vocab:
    """The seed's word lists. Words are lowercase letters only and never
    contain the letter ``x``, which the unique and out-of-vocabulary terms
    use, so no generated word collides with them."""

    def __init__(self, seed: int):
        rng = random.Random(f"vocab:{seed}")
        seen: set[str] = set()

        def fresh(syllables: int) -> str:
            while True:
                w = _word(rng, syllables)
                if w not in seen:
                    seen.add(w)
                    return w

        self.hot = [fresh(2) for _ in range(N_HOT)]
        self.mid = [fresh(3) for _ in range(N_MID)]
        self.rare = [fresh(4) for _ in range(N_RARE)]
        # Zipf-like weights over the mid roots: a few are in a third of the
        # files, the tail in well under one percent
        self.mid_w = [1.0 / (r + 8) for r in range(N_MID)]
        self.tag = "".join(rng.choice(ALPHA.replace("x", "")) for _ in range(3))

    def unique(self, i: int) -> str:
        """The term that only file ``i`` holds."""
        return f"ux{self.tag}{i}"


def make_file(vocab: Vocab, seed: int, i: int) -> str:
    """Content of file ``i`` (pure function of seed and i)."""
    rng = random.Random(f"file:{seed}:{i}")
    hot, mid, rare = vocab.hot, vocab.mid, vocab.rare
    roots = rng.choices(mid, weights=vocab.mid_w, k=24)

    def ident() -> str:
        a, b = rng.choice(roots), rng.choice(roots)
        if rng.random() < 0.5:
            return f"{a}{b.capitalize()}"
        return f"{a}_{b}"

    lines = [f"{hot[0]} {hot[1]}.{ident()}"]
    for _ in range(4 + rng.randrange(5)):
        lines.append(f"{hot[2]} {ident()}({ident()}, {ident()}):")
        for _ in range(3 + rng.randrange(5)):
            kw = hot[3 + rng.randrange(N_HOT - 3)]
            lines.append(f"    {ident()} = {kw} {ident()}")
        lines.append(f"    {hot[2 + rng.randrange(2)]} {ident()}")
    lines.append(f"# {' '.join(rng.choices(rare, k=2 + rng.randrange(2)))}")
    lines.append(f"# {vocab.unique(i)}")
    return "\n".join(lines)


def corpus(seed: int, start: int, n: int) -> list[tuple[int, str]]:
    """Files ``start .. start+n-1`` as (docid, content); docid = index + 1."""
    vocab = Vocab(seed)
    return [(i + 1, make_file(vocab, seed, i)) for i in range(start, start + n)]


def content_bytes(files: list[tuple[int, str]]) -> int:
    return sum(len(c.encode()) for _, c in files)


# -- queries ---------------------------------------------------------------
#
# A query is an AST the oracle evaluates directly and ``render`` turns into
# the engine's query string: ("term", word) ("phrase", text, slop)
# ("fuzzy", word, k) ("prefix", word) ("and", [..]) ("or", [..]) ("not", x).

KINDS = ["unique", "rare", "hot", "oov", "and2", "and4", "camel", "snake",
         "bool", "phrase", "near", "prefix", "fuzzy"]


def _tokens(content: str) -> list[str]:
    # the generator writes no acronyms, so this simple split is exact here
    return [t.lower() for t in re.findall(r"[A-Z]?[a-z0-9]+", content)]


def _idents(content: str) -> list[str]:
    return re.findall(r"[a-z]+(?:_[a-z]+|[A-Z][a-z]+)", content)


def query_mix(seed: int, n_files: int, tag: str = "mix") -> list[tuple[str, tuple]]:
    """One query of every kind in KINDS, drawn from the seed's corpus."""
    vocab = Vocab(seed)
    rng = random.Random(f"queries:{seed}:{tag}")

    def some_file() -> str:
        return make_file(vocab, seed, rng.randrange(n_files))

    def mid_tokens(k: int) -> list[str]:
        toks = [t for t in _tokens(some_file()) if t in mid_set]
        return rng.sample(sorted(set(toks)), k)

    mid_set = set(vocab.mid)
    out: list[tuple[str, tuple]] = []
    for kind in KINDS:
        if kind == "unique":
            q = ("term", vocab.unique(rng.randrange(n_files)))
        elif kind == "rare":
            q = ("term", [t for t in _tokens(some_file())
                          if t in vocab.rare][0])
        elif kind == "hot":
            q = ("term", rng.choice(vocab.hot))
        elif kind == "oov":
            q = ("term", "xq" + "".join(rng.choice(ALPHA) for _ in range(6)))
        elif kind == "and2":
            q = ("and", [("term", t) for t in mid_tokens(2)])
        elif kind == "and4":
            q = ("and", [("term", t) for t in mid_tokens(rng.choice((3, 4)))])
        elif kind in ("camel", "snake"):
            ids = [i for i in _idents(some_file())
                   if ("_" in i) == (kind == "snake")]
            q = ("term", rng.choice(ids))
        elif kind == "bool":
            a, b, c = mid_tokens(3)
            q = ("and", [("term", a), ("or", [("term", b), ("term", c)]),
                         ("not", ("term", rng.choice(vocab.mid)))])
        elif kind in ("phrase", "near"):
            toks = _tokens(some_file())
            gap = 1 if kind == "phrase" else 2
            j = rng.randrange(len(toks) - gap)
            while toks[j] == toks[j + gap]:
                j = rng.randrange(len(toks) - gap)
            text = f"{toks[j]} {toks[j + gap]}"
            q = ("and", [("phrase", text, 0 if kind == "phrase" else 3),
                         ("term", toks[j + 1] if gap == 2 else rng.choice(vocab.hot))])
        elif kind == "prefix":
            q = ("prefix", mid_tokens(1)[0][:4])
        else:  # fuzzy: one substituted letter
            w = mid_tokens(1)[0]
            i = rng.randrange(len(w))
            q = ("fuzzy", w[:i] + rng.choice(ALPHA.replace(w[i], "")) + w[i + 1:], 1)
        out.append((kind, q))
    return out


def render(ast: tuple) -> str:
    kind = ast[0]
    if kind == "term":
        return ast[1]
    if kind == "phrase":
        return f'"{ast[1]}"' + (f"~{ast[2]}" if ast[2] else "")
    if kind == "fuzzy":
        return f"{ast[1]}~{ast[2]}"
    if kind == "prefix":
        return f"{ast[1]}*"
    if kind == "not":
        return "NOT " + render(ast[1])
    if kind == "or":
        return "(" + " OR ".join(render(c) for c in ast[1]) + ")"
    kids = ast[1]
    if all(c[0] == "term" for c in kids):
        return " ".join(render(c) for c in kids)  # implicit AND
    return " AND ".join(render(c) for c in kids)
