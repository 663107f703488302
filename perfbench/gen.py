"""Seeded inputs for the benchmark: corpus, query mix and update batches.

Everything here is a pure function of the seed; the engine only ever sees the
rows and query strings produced here.

Corpus (the 5-column ``input_hint`` schema: repo, path, commit, lang,
content). Content is source-like text over a word vocabulary:

- 97% of tokens follow a Zipf law (s = 1.1) over ``VOCAB`` words, so the
  head words occur in nearly every document;
- 3% are drawn uniformly from ``RARE_POOL`` local-identifier words, so the
  tail reaches posting lists of a single document;
- consecutive tokens are glued into camelCase or snake_case identifiers.
  Words are lowercase consonant-vowel syllables, never stopwords, so the
  engine's tokenizer returns exactly the drawn token stream. The benchmark
  relies on that to know each document's terms without tokenizing.

About ``REVISED`` of the keys get a second, newer commit (an upsert), and
``DUPLICATE`` of the documents copy another document's content.
"""

from __future__ import annotations

import hashlib
import zlib
from dataclasses import dataclass, field

import numpy as np

VOCAB = 4000
RARE_POOL = 20000
ZIPF_S = 1.1
RARE_SHARE = 0.03
DOC_TOKENS = (40, 240)
REVISED = 0.05
DUPLICATE = 0.01

_CONS = "bcdfgklmnprstvz"
_VOWELS = "aeiou"
_SEPS = (" ", " ", " ", "(", ") ", " = ", ".", ", ", ";\n", "\n    ")
_EXTS = (("py", "python"), ("java", "java"), ("go", "go"),
         ("js", "javascript"), ("scala", "scala"), ("md", "markdown"))

BATCH_HOT_HOT = 8

#: query shapes of the serve workload, in the order one cycle runs them
SHAPES = ("and_rare", "and_hot", "or_hot", "phrase", "qs_must", "qs_group")


@dataclass
class Doc:
    repo: str
    path: str
    commit: str
    lang: str
    tokens: np.ndarray          # word ids, in order
    content: str = ""


@dataclass
class Inputs:
    words: list[str]
    docs: list[Doc] = field(default_factory=list)


def _words(rng: np.random.Generator) -> list[str]:
    """VOCAB + RARE_POOL distinct six-letter words (three syllables)."""
    syl = [c + v for c in _CONS for v in _VOWELS]
    n_syl = len(syl)
    idx = rng.choice(n_syl ** 3, size=VOCAB + RARE_POOL, replace=False)
    return [syl[i // n_syl ** 2] + syl[(i // n_syl) % n_syl] + syl[i % n_syl]
            for i in idx.tolist()]


def _draw_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    toks = rng.choice(VOCAB, size=n, p=p)
    rare = rng.random(n) < RARE_SHARE
    toks[rare] = VOCAB + rng.integers(0, RARE_POOL, size=int(rare.sum()))
    return toks


def render(rng: np.random.Generator, words: list[str],
           tokens: np.ndarray) -> str:
    """Source-like text whose tokenization is exactly ``tokens``."""
    out: list[str] = []
    i, n = 0, len(tokens)
    group = rng.integers(1, 4, size=n)
    camel = rng.random(n) < 0.5
    sep = rng.integers(0, len(_SEPS), size=n)
    while i < n:
        parts = [words[t] for t in tokens[i:i + group[i]].tolist()]
        if camel[i]:
            out.append(parts[0] + "".join(p.capitalize() for p in parts[1:]))
        else:
            out.append("_".join(parts))
        out.append(_SEPS[sep[i]])
        i += len(parts)
    return "".join(out)


def _commit(seed: int, key: int, generation: int) -> str:
    """Commits order by generation first, so a later revision of a key is
    always the newer commit (latest-commit-wins picks it)."""
    h = hashlib.sha1(f"{seed}:{key}:{generation}".encode()).hexdigest()
    return f"{generation:08x}{h[:32]}"


def _doc(seed: int, key: int, generation: int, tokens: np.ndarray) -> Doc:
    ext, lang = _EXTS[key % len(_EXTS)]
    return Doc(repo=f"org{key % 5}/repo{key % 17}",
               path=f"src/pkg{key % 31}/file{key:07d}.{ext}",
               commit=_commit(seed, key, generation), lang=lang,
               tokens=tokens)


def corpus(seed: int, n_docs: int) -> Inputs:
    """``n_docs`` keys plus revisions; rows in a seeded shuffled order."""
    rng = np.random.default_rng([seed, 1])
    inp = Inputs(words=_words(rng))
    lens = rng.integers(*DOC_TOKENS, size=n_docs)
    flat = _draw_tokens(rng, int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    for key in range(n_docs):
        inp.docs.append(_doc(seed, key, 0, flat[offs[key]:offs[key + 1]]))
    for key in np.flatnonzero(rng.random(n_docs) < DUPLICATE).tolist():
        src = int(rng.integers(0, n_docs))
        inp.docs[key].tokens = inp.docs[src].tokens
    for key in np.flatnonzero(rng.random(n_docs) < REVISED).tolist():
        old = inp.docs[key].tokens
        extra = _draw_tokens(rng, int(rng.integers(5, 30)))
        inp.docs.append(_doc(seed, key, 1, np.concatenate([old, extra])))
    for d in inp.docs:
        d.content = render(rng, inp.words, d.tokens)
    order = rng.permutation(len(inp.docs))
    inp.docs = [inp.docs[i] for i in order.tolist()]
    return inp


def update_batch(seed: int, words: list[str], round_no: int,
                 live: list[tuple[str, str]], n_new: int,
                 n_revised: int) -> list[Doc]:
    """One write batch: ``n_new`` unseen keys plus ``n_revised`` newer
    commits of live (repo, path) keys; each of those supersedes, so
    tombstones, the key's previous version."""
    rng = np.random.default_rng([seed, 3, round_no])
    first_key = 10_000_000 * (round_no + 1)
    out = [_doc(seed, first_key + j, round_no + 2,
                _draw_tokens(rng, int(rng.integers(*DOC_TOKENS))))
           for j in range(n_new)]
    lang = dict(_EXTS)
    for i in rng.choice(len(live), size=n_revised, replace=False).tolist():
        repo, path = live[i]
        out.append(Doc(repo=repo, path=path,
                       commit=_commit(seed, zlib.crc32(path.encode()),
                                      round_no + 2),
                       lang=lang[path.rsplit(".", 1)[1]],
                       tokens=_draw_tokens(rng,
                                           int(rng.integers(*DOC_TOKENS)))))
    for d in out:
        d.content = render(rng, words, d.tokens)
    return out


def latest(docs: list[Doc]) -> list[Doc]:
    """The live version of each key: its newest commit."""
    best: dict[tuple[str, str], Doc] = {}
    for d in docs:
        k = (d.repo, d.path)
        if k not in best or d.commit > best[k].commit:
            best[k] = d
    return list(best.values())


class QueryMix:
    """Seeded query pools drawn by document-frequency band over the live
    documents: hot (df >= 25% of docs), mid (2% <= df < 25%) and rare
    (df <= 0.5%)."""

    def __init__(self, seed: int, words: list[str], live: list[Doc],
                 per_shape: int = 8, n_batches: int = 2):
        self.rng = np.random.default_rng([seed, 2])
        self.words = words
        self.live = live
        n = len(live)
        df = np.bincount(np.concatenate([np.unique(d.tokens) for d in live]),
                         minlength=len(words))
        self.df = df
        self.hot = np.flatnonzero(df >= 0.25 * n)
        self.mid = np.flatnonzero((df >= 0.02 * n) & (df < 0.25 * n))
        self.rare_max = max(2, int(0.005 * n))
        self.pools = {s: [getattr(self, "_" + s)() for _ in range(per_shape)]
                      for s in SHAPES}
        self.batches = [self._batch() for _ in range(n_batches)]

    def _w(self, ids) -> str:
        return self.words[int(self.rng.choice(ids))]

    def _two(self, ids) -> tuple[str, str]:
        a, b = self.rng.choice(ids, size=2, replace=False).tolist()
        return self.words[a], self.words[b]

    def _and_rare(self) -> str:
        while True:
            d = self.live[int(self.rng.integers(len(self.live)))]
            toks = np.unique(d.tokens)
            rare = toks[self.df[toks] <= self.rare_max]
            hot = toks[np.isin(toks, self.hot)]
            if len(rare) and len(hot):
                return f"{self._w(rare)} {self._w(hot)}"

    def _and_hot(self) -> str:
        return " ".join(self._two(self.hot))

    _or_hot = _and_hot

    def _phrase(self) -> str:
        common = self.df >= 0.02 * len(self.live)
        while True:
            t = self.live[int(self.rng.integers(len(self.live)))].tokens
            i = int(self.rng.integers(len(t) - 1))
            a, b = int(t[i]), int(t[i + 1])
            if a != b and common[a] and common[b]:
                return f"{self.words[a]} {self.words[b]}"

    def _qs_must(self) -> str:
        return f"+{self._w(self.hot)} {self._w(self.mid)}"

    def _qs_group(self) -> str:
        a, b = self._two(self.hot)
        return f"{self._w(self.mid)} ({a} AND {b})"

    def wand_share(self, n_and_hot: int, n_single: int,
                   n_batches: int) -> str:
        """Share of the timed queries that are conjunctions of hot terms
        only: the block-max WAND path with blocks to skip."""
        hot = {self.words[i] for i in self.hot.tolist()}
        n_hot = n_and_hot + sum(
            all(w in hot for w in q.split())
            for i in range(n_batches)
            for q in self.batches[i % len(self.batches)].values())
        return f"{n_hot}/{n_single + 64 * n_batches} queries"

    def _batch(self) -> dict[str, str]:
        """64 distinct two-term queries, a hot term with a hot one in
        BATCH_HOT_HOT of them and with a mid one in the rest, so every
        batch holds the same mix of WAND and non-WAND work."""
        qs: dict[str, None] = {}
        while len(qs) < BATCH_HOT_HOT:
            qs.setdefault(" ".join(self._two(self.hot)))
        while len(qs) < 64:
            qs.setdefault(f"{self._w(self.hot)} {self._w(self.mid)}")
        return {f"q{i:02d}": q for i, q in enumerate(qs)}
