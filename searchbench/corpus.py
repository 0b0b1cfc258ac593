"""Seeded source-code-like corpus for the benchmark.

The table has the engine's input schema ``(repo, path, commit, lang,
content, title)``. Content is a token stream over a ~40k-term vocabulary of
identifier-like words drawn with Zipf popularity (s = 1.1), mixed with the
file language's keywords and punctuation. File lengths are lognormal
(median ~100 tokens, a tail into the thousands), drawn as the
distribution's quantiles so every seed has the same total length. The same
``seed`` always gives the same table, byte for byte.

Identifiers are lowercase letters and digits only, so every analyzer
profile keeps one identifier as one term; query shapes can then be picked
from the generator's own per-document term sets.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pandas as pd

N_TERMS = 40_000
ZIPF_S = 1.1
N_REPOS = 40
MEDIAN_TOKENS = 100
LENGTH_SIGMA = 1.0
MAX_TOKENS = 6000

_SYLLABLES = (
    "get set buf len idx ptr cfg msg req res ctx node tree map list key val "
    "arr str num err log tmp src dst pos col row cell page blk seg doc term "
    "hash sum min max avg cnt ref obj fn cb evt job task pool lock sem chan "
    "sock conn addr port host user auth tok sess cache heap stack queue"
).split()

_LANGS = (
    ("py", "python", "def return import from class self lambda yield with as "
                     "if else elif for in while try except raise pass none true false"),
    ("java", "java", "public private static final void class interface new return "
                     "if else for while try catch throw int long boolean string null"),
    ("go", "go", "func package import return var const type struct interface "
                 "if else for range go defer chan select nil err"),
    ("js", "js", "function const let var return if else for while new class "
                 "this null undefined async await import export"),
    ("rs", "rust", "fn let mut pub struct impl enum match return if else for "
                   "while loop use mod self crate trait where"),
)

_PUNCT = np.array(list("(){};=.,:[]+-*<>") + ["->", "=>", "==", "!=", "&&", "||"],
                  dtype=object)

# token kinds in content
_P_IDENT, _P_KEYWORD = 0.65, 0.20  # the rest is punctuation


@dataclass(frozen=True)
class Generated:
    """A generated table plus what the query picker needs to know about it."""
    table: pd.DataFrame              # sorted by (repo, path)
    vocab: np.ndarray                # identifier strings, by Zipf rank
    doc_terms: list[np.ndarray]      # per row: identifier ranks, in token order
    adjacent: list[np.ndarray]       # per row: (rank, rank) of adjacent identifiers


def _base_vocab() -> np.ndarray:
    """The identifier set, the same for every seed."""
    rng = np.random.default_rng(11)
    syl = np.array(_SYLLABLES, dtype=object)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < N_TERMS:
        n = 4 * (N_TERMS - len(out))
        k = rng.integers(2, 4, size=n)
        a, b, c = (rng.integers(0, len(syl), size=n) for _ in range(3))
        digit = rng.integers(0, 10, size=n)
        with_digit = rng.random(n) < 0.2
        for i in range(n):
            w = syl[a[i]] + syl[b[i]] + (syl[c[i]] if k[i] == 3 else "")
            if with_digit[i]:
                w += str(digit[i])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == N_TERMS:
                    break
    return np.array(out, dtype=object)


def make_vocab(seed: int) -> np.ndarray:
    """Identifiers by Zipf rank. The seed shuffles which identifier holds a
    rank only among identifiers of the same length, so the word length at
    each rank, and with it the corpus size in bytes, is the same for every
    seed."""
    base = _base_vocab()
    lengths = np.array([len(w) for w in base])
    rng = np.random.default_rng([seed, 11])
    out = base.copy()
    for n in np.unique(lengths):
        at = np.flatnonzero(lengths == n)
        out[at] = base[at[rng.permutation(len(at))]]
    return out


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def file_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """Lognormal token counts (median ``MEDIAN_TOKENS``). The n values are
    the distribution's n quantiles in a seeded order, so every seed has the
    same total size and only the placement of long files changes."""
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    lengths = np.exp(np.log(MEDIAN_TOKENS) + LENGTH_SIGMA * z)
    return np.clip(lengths, 3, MAX_TOKENS).astype(np.int64)[rng.permutation(n)]


def keyword_terms() -> set[str]:
    return {k for _, _, kws in _LANGS for k in kws.split()}


def _doc_tokens(rng: np.random.Generator, vocab: np.ndarray, p: np.ndarray,
                keywords: np.ndarray, n_tok: int):
    """(text, identifier ranks in order, adjacent identifier rank pairs)."""
    kind = rng.random(n_tok)
    ident = rng.choice(len(vocab), size=n_tok, p=p)
    toks = np.where(kind < _P_IDENT, vocab[ident],
                    np.where(kind < _P_IDENT + _P_KEYWORD,
                             keywords[rng.integers(0, len(keywords), n_tok)],
                             _PUNCT[rng.integers(0, len(_PUNCT), n_tok)]))
    # a line break every ~10 tokens, so content looks like source lines
    seps = np.where(rng.random(n_tok) < 0.1, "\n", " ").astype(object)
    seps[-1] = ""
    text = "".join((toks + seps).tolist())
    is_id = kind < _P_IDENT
    both = np.flatnonzero(is_id[:-1] & is_id[1:])
    return text, ident[is_id], np.stack([ident[both], ident[both + 1]], axis=1)


def generate(n_docs: int, seed: int) -> Generated:
    """``n_docs`` files over ``N_REPOS`` repos; unique (repo, path) keys."""
    rng = np.random.default_rng([seed, 12])
    vocab = make_vocab(seed)
    p = _zipf_p(len(vocab))
    lengths = file_lengths(rng, n_docs)
    repo_of = np.sort(rng.integers(0, N_REPOS, size=n_docs))
    rows, terms, adjacent = [], [], []
    for i in range(n_docs):
        repo = f"org{repo_of[i] % 7}/proj{repo_of[i]:02d}"
        ext, lang, kw = _LANGS[(repo_of[i] + i) % len(_LANGS)]
        path = f"src/m{i % 37:02d}/f{i:06d}.{ext}"
        text, ids, adj = _doc_tokens(rng, vocab, p, np.array(kw.split(), dtype=object),
                                     int(lengths[i]))
        title = f"{vocab[ids[0]]} {path.rsplit('/', 1)[1]}" \
            if len(ids) and i % 3 == 0 else None
        commit = hashlib.sha1(f"{seed}:{repo}:{path}:0".encode()).hexdigest()
        rows.append((repo, path, commit, lang, text, title))
        terms.append(ids)
        adjacent.append(adj)
    table = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                        "content", "title"])
    order = table.sort_values(["repo", "path"]).index.to_numpy()
    table = table.loc[order].reset_index(drop=True)
    return Generated(table, vocab, [terms[j] for j in order],
                     [adjacent[j] for j in order])


@dataclass(frozen=True)
class ChangeBatch:
    """The next snapshot of the corpus and what differs from the first."""
    table: pd.DataFrame              # sorted by (repo, path)
    n_update: int
    n_delete: int
    n_insert: int


def change_batch(gen: Generated, seed: int, share: float = 0.05) -> ChangeBatch:
    """Modify ``share`` of the rows, delete another ``share``, add ``share``
    new files. Modified rows get new content, so their sha256 changes."""
    base = gen.table
    n = len(base)
    k = max(1, int(n * share))
    rng = np.random.default_rng([seed, 13])
    pick = rng.permutation(n)
    mod, dead = pick[:k], pick[k:2 * k]
    p = _zipf_p(len(gen.vocab))
    t = base.copy()
    kw = np.array(_LANGS[0][2].split(), dtype=object)
    for i in mod:
        extra, _, _ = _doc_tokens(rng, gen.vocab, p, kw, int(rng.integers(5, 40)))
        t.at[i, "content"] = t.at[i, "content"] + "\n" + extra
        t.at[i, "commit"] = hashlib.sha1(
            f"{seed}:{t.at[i, 'repo']}:{t.at[i, 'path']}:1".encode()).hexdigest()
    t = t.drop(index=dead)
    added = []
    lengths = file_lengths(rng, k)
    for j in range(k):
        r = int(rng.integers(0, N_REPOS))
        repo = f"org{r % 7}/proj{r:02d}"
        ext, lang, kws = _LANGS[j % len(_LANGS)]
        path = f"src/new/a{j:06d}.{ext}"
        text, _, _ = _doc_tokens(rng, gen.vocab, p, np.array(kws.split(), dtype=object),
                              int(lengths[j]))
        commit = hashlib.sha1(f"{seed}:{repo}:{path}:1".encode()).hexdigest()
        added.append((repo, path, commit, lang, text, None))
    t = pd.concat([t, pd.DataFrame(added, columns=t.columns)], ignore_index=True)
    t = t.sort_values(["repo", "path"]).reset_index(drop=True)
    return ChangeBatch(t, n_update=k, n_delete=k, n_insert=k)
