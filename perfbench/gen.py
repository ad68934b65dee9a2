"""Seeded generator for the benchmark's code corpus and query stream.

Everything is derived from one integer seed through ``numpy.random.Generator``
so the same seed always gives the same corpus bytes and the same query list.

Corpus rows are ``(repo, path, commit, lang, content)`` shaped like source
code.  Content draws stems from a Zipf law over a vocabulary of tens of
thousands of synthetic stems, written as bare words, camelCase and snake_case
compounds, so the analyzed index has a few very hot terms (in most documents)
and a long tail of selective ones.

Queries use the classic QueryParser syntax the engine serves: term, OR, AND,
NOT, +must, phrase, phrase~slop, prefix, wildcard, fuzzy, range, each either
over all collections or scoped to one.  Their terms are drawn by Zipf rank as
well, so hot queries repeat and tail terms arrive cold.  The rank sequence is
the same for every seed; the seed decides which stems the ranks name.

Run ``python3 perfbench/gen.py`` to self-check determinism (same seed, same
sha256; another seed, another sha256).
"""

from __future__ import annotations

import bisect
import hashlib
import json

import numpy as np

CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
KEYWORDS = ["return", "import", "class", "def", "void", "public", "static",
            "func", "var", "let", "const", "new", "null", "true", "false"]
LANGS = ["java", "py", "js", "go"]
N_REPOS = 8
N_STEMS = 30_000
DOC_TOKENS = (40, 160)  # tokens per document, low and high (exclusive)

#: query shapes and how many of each every block of 25 queries holds; the
#: order within a block is shuffled per stream, so every stretch of the
#: stream has the same mix.  The weights are provisional assumptions, not
#: measured traffic: no query log of the service is available.  They are set
#: for coverage (every shape at least once per block, the cheap term lookup
#: most often); see NOTES.md, "Assumed traffic".
QUERY_MIX = [("term", 5), ("or", 3), ("and", 2), ("not", 2), ("must", 2),
             ("phrase", 2), ("slop", 2), ("prefix", 2), ("wildcard", 2),
             ("fuzzy", 1), ("range", 2)]
BLOCK = sum(count for _, count in QUERY_MIX)


def zipf_cdf(n: int, s: float) -> np.ndarray:
    """Cumulative Zipf(s) distribution over ranks 0..n-1; sample a rank with
    ``np.searchsorted(cdf, u, side="right")`` for uniform ``u``."""
    w = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** s)
    return w / w[-1]


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase stems of 2-4 consonant-vowel syllables; list
    order is Zipf rank (index 0 is the hottest stem).  No stem is a stopword,
    so every stem survives analysis."""
    from lucene_plugin_spark.analysis.stopwords import ENGLISH_STOP_WORDS
    syll = [c + v for c in CONSONANTS for v in VOWELS]
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        m = 2 * n
        lens = rng.integers(2, 5, size=m)
        sy = rng.integers(0, len(syll), size=(m, 4))
        tail = rng.integers(0, 3 * len(CONSONANTS), size=m)
        for k, row, t in zip(lens, sy, tail):
            w = "".join(syll[x] for x in row[:k])
            if t < len(CONSONANTS):
                w += CONSONANTS[t]
            if w not in seen and w not in ENGLISH_STOP_WORDS:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


class Generator:
    """Corpus and query stream for one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.stems = vocabulary(np.random.default_rng([seed, 0]), N_STEMS)
        # assumed exponents (NOTES.md, "Assumed traffic")
        self._corpus_cdf = zipf_cdf(N_STEMS, 1.0)
        self._query_cdf = zipf_cdf(N_STEMS, 1.1)
        self._kw_cdf = zipf_cdf(len(KEYWORDS), 1.3)
        self._sorted_stems = sorted(self.stems)

    # ---------------------------------------------------------------- corpus
    def content(self, rng: np.random.Generator) -> str:
        nt = int(rng.integers(*DOC_TOKENS))
        stems = self.stems
        idx = np.searchsorted(self._corpus_cdf, rng.random(3 * nt), side="right")
        kinds = rng.random(nt)
        kw = np.searchsorted(self._kw_cdf, rng.random(nt), side="right")
        parts = []
        j = 0
        for i in range(nt):
            r = kinds[i]
            if r < 0.15:
                parts.append(KEYWORDS[kw[i]])
            elif r < 0.40:  # camelCase pair or triple
                n = 2 + (r < 0.25)
                ws = [stems[x] for x in idx[j:j + n]]
                parts.append(ws[0] + "".join(w.capitalize() for w in ws[1:]))
                j += n
            elif r < 0.55:  # snake_case pair
                parts.append(stems[idx[j]] + "_" + stems[idx[j + 1]])
                j += 2
            elif r < 0.95:
                parts.append(stems[idx[j]])
                j += 1
            else:  # identifier with a numeric suffix
                parts.append(stems[idx[j]] + str(int(idx[j + 1]) % 100))
                j += 2
        return " ".join(parts)

    def doc(self, rng: np.random.Generator, i: int, prefix: str = "src") -> dict:
        lang = LANGS[i % len(LANGS)]
        return {"repo": f"repo{i % N_REPOS:02d}",
                "path": f"{prefix}/m{i % 97:02d}/f{i:06d}.{lang}",
                "commit": f"{int(rng.integers(0, 1 << 32)):08x}",
                "lang": lang, "content": self.content(rng)}

    def corpus(self, n_docs: int, stream: int = 1) -> list[dict]:
        rng = np.random.default_rng([self.seed, stream])
        return [self.doc(rng, i) for i in range(n_docs)]

    # --------------------------------------------------------------- queries
    def _stem(self, shape: np.random.Generator) -> str:
        return self.stems[int(np.searchsorted(self._query_cdf, shape.random(),
                                              side="right"))]

    def query(self, shape: np.random.Generator, rng: np.random.Generator,
              kind: str) -> tuple[str, str | None, int]:
        """One ``(query, repo or None, k)`` triple of shape ``kind``.
        ``shape`` draws the Zipf ranks, the collection scoping and k;
        ``rng`` draws the details that depend on the seed's vocabulary."""
        a, b = self._stem(shape), self._stem(shape)
        if kind == "term":
            q = a
        elif kind == "or":
            q = f"{a} OR {b} {self._stem(shape)}"
        elif kind == "and":
            q = f"{a} AND {b}"
        elif kind == "not":
            q = f"{a} NOT {b}"
        elif kind == "must":
            q = f"+{a} {b}"
        elif kind == "phrase":
            q = f'"{a} {b}"'
        elif kind == "slop":
            q = f'"{a} {b}"~{int(rng.integers(1, 4))}'
        elif kind == "prefix":
            q = a[:4] + "*"
        elif kind == "wildcard":
            p = int(rng.integers(1, len(a) - 1))
            q = a[:p] + "?" + a[p + 1:]
        elif kind == "fuzzy":
            p = int(rng.integers(0, len(a)))
            q = a[:p] + VOWELS[int(rng.integers(0, 5))] + a[p + 1:] + "~1"
        else:  # range over a few neighbouring stems in sort order
            i = bisect.bisect_left(self._sorted_stems, a)
            hi = self._sorted_stems[min(i + int(rng.integers(1, 4)),
                                        len(self._sorted_stems) - 1)]
            q = f"[{a} TO {hi}]"
        repo = (f"repo{int(rng.integers(0, N_REPOS)):02d}"
                if shape.random() < 0.3 else None)  # 30% scoped: assumed
        k = 10 if shape.random() < 0.6 else 255  # assumed shares, as above
        return q, repo, k

    def query_stream(self, n: int, stream: int = 2) -> list[tuple[str, str, str | None, int]]:
        """``n`` ``(kind, query, repo or None, k)`` tuples.  Their shape
        (kinds, Zipf ranks, scoping, k) comes from ``stream`` alone and is
        the same for every seed; the seed picks the vocabulary the ranks map
        to and the remaining details.  So seeds change the inputs but not how
        many queries repeat or how costly the mix is, which would otherwise
        dominate run-to-run spread."""
        shape = np.random.default_rng([stream])
        rng = np.random.default_rng([self.seed, stream])
        block = [kind for kind, count in QUERY_MIX for _ in range(count)]
        out: list[tuple[str, str, str | None, int]] = []
        while len(out) < n:
            for i in shape.permutation(len(block)):
                out.append((block[i], *self.query(shape, rng, block[i])))
        return out[:n]

    def queries(self, n: int, stream: int = 2) -> list[tuple[str, str | None, int]]:
        """:meth:`query_stream` without the kinds."""
        return [t[1:] for t in self.query_stream(n, stream)]


def corpus_sha256(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True).encode())
    return h.hexdigest()


def self_check(n_docs: int = 300, n_queries: int = 200) -> dict:
    """Same seed -> identical corpus sha256 and queries; another seed ->
    different ones.  Raises on failure, returns the digests."""
    def digest(seed):
        g = Generator(seed)
        return corpus_sha256(g.corpus(n_docs)), g.queries(n_queries)

    a1, q1 = digest(1)
    a2, q2 = digest(1)
    b, qb = digest(2)
    if a1 != a2 or q1 != q2:
        raise RuntimeError("generator is not deterministic for one seed")
    if a1 == b or q1 == qb:
        raise RuntimeError("two seeds gave the same corpus or queries")
    return {"seed1": a1, "seed2": b}


if __name__ == "__main__":
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(self_check()))
