"""Query shapes picked by bands measured on the generated corpus.

No query string is hard-coded: every seed yields the same mix of shapes,
each filled from the document-frequency band (or prefix-expansion band) it
names. Bands are shares of the collection size, so they scale with it.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass

import numpy as np

from corpus import Generated, keyword_terms

# single-query shapes, in the order the notes list them
SHAPES = ("term_hot", "term_mid", "term_rare", "and_rare_hot", "and_hot_hot",
          "or3", "not", "phrase", "prefix", "fuzzy")
# the shorter stream on an updated index: one shape per engine code path
UPDATED_SHAPES = ("term_hot", "and_rare_hot", "or3", "phrase", "prefix")
# warm-up shapes: the WAND term scan, the boolean aggregate, positions
WARMUP = ("term_hot", "and_rare_hot", "phrase")
# shapes a batch is made of: flat boolean queries plus a few phrases
BATCH_FLAT = ("term_hot", "term_mid", "term_rare", "and_rare_hot",
              "and_hot_hot", "or3", "not")

HOT_DF = 0.10                 # df >= 10% of docs
MID_DF = (0.01, 0.05)         # 1% .. 5% of docs
RARE_DF = (2, 5)              # absolute doc counts
PREFIX_TERMS = (5, 50)        # terms a bounded prefix expands to
POOL_PER_SHAPE = 4


@dataclass(frozen=True)
class Bands:
    hot: np.ndarray           # identifier ranks per band
    mid: np.ndarray
    rare: np.ndarray
    phrase_pairs: list        # (rank_a, rank_b) adjacent in some document
    prefixes: list            # prefixes with a bounded expansion


def doc_freqs(gen: Generated) -> np.ndarray:
    df = np.zeros(len(gen.vocab), dtype=np.int64)
    for ids in gen.doc_terms:
        df[np.unique(ids)] += 1
    return df


def measure_bands(gen: Generated) -> Bands:
    n = len(gen.table)
    df = doc_freqs(gen)
    hot = np.flatnonzero(df >= HOT_DF * n)
    mid = np.flatnonzero((df >= MID_DF[0] * n) & (df <= MID_DF[1] * n))
    rare = np.flatnonzero((df >= RARE_DF[0]) & (df <= RARE_DF[1]))
    # phrases come from real adjacent identifier pairs whose terms are at
    # least mid-frequency, so the phrase check decodes real position lists
    common = df >= MID_DF[0] * n
    pairs = sorted({(int(a), int(b)) for adj in gen.adjacent for a, b in adj
                    if a != b and common[a] and common[b]})
    # prefix expansion counted over every term the content field holds
    present = sorted(set(gen.vocab[df > 0].tolist()) | keyword_terms())
    prefixes = set()
    for t in gen.vocab[mid]:
        for ln in range(4, min(len(t), 8)):
            p = t[:ln]
            lo = bisect.bisect_left(present, p)
            hi = bisect.bisect_left(present, p + "\uffff")
            if PREFIX_TERMS[0] <= hi - lo <= PREFIX_TERMS[1]:
                prefixes.add(p)
    for name, band in (("hot", hot), ("mid", mid), ("rare", rare),
                       ("phrase", pairs), ("prefix", prefixes)):
        if len(band) < 4 * POOL_PER_SHAPE:
            raise RuntimeError(f"corpus too small for the {name} band: {len(band)}")
    return Bands(hot, mid, rare, pairs, sorted(prefixes))


class _Picker:
    """Draws band members without reuse, so pools never share a term.

    After ``reserve()`` terms are drawn with replacement from the members
    not used so far: batches may repeat terms among themselves, never the
    warm-up's or the single-query pool's."""

    def __init__(self, gen: Generated, bands: Bands, rng: np.random.Generator):
        self.vocab = gen.vocab
        self.rng = rng
        self.left = {k: list(rng.permutation(v)) for k, v in
                     (("hot", bands.hot), ("mid", bands.mid), ("rare", bands.rare))}
        self.pairs = [bands.phrase_pairs[i]
                      for i in rng.permutation(len(bands.phrase_pairs))]
        self.prefixes = [bands.prefixes[i]
                         for i in rng.permutation(len(bands.prefixes))]
        self.used: set[int] = set()
        self.free: dict | None = None

    def reserve(self) -> None:
        self.free = {k: np.array([r for r in v if r not in self.used])
                     for k, v in self.left.items()}

    def term(self, band: str) -> str:
        if self.free is not None:
            return self.vocab[int(self.rng.choice(self.free[band]))]
        left = self.left[band]
        while True:
            r = int(left.pop())
            if r not in self.used:
                self.used.add(r)
                return self.vocab[r]

    def phrase(self) -> str:
        if self.free is not None:
            a, b = self.pairs.pop()
            return f'"{self.vocab[a]} {self.vocab[b]}"'
        while True:
            a, b = self.pairs.pop()
            if a not in self.used and b not in self.used:
                self.used.update((a, b))
                return f'"{self.vocab[a]} {self.vocab[b]}"'

    def prefix(self) -> str:
        return self.prefixes.pop() + "*"

    def fuzzy(self) -> str:
        t = self.term("mid")
        i = int(self.rng.integers(1, len(t)))
        c = "xqzjkvw"[int(self.rng.integers(0, 7))]
        return f"{t[:i]}{c}{t[i + 1:]}~1"

    def query(self, shape: str) -> str:
        if shape.startswith("term_"):
            return self.term(shape[5:])
        if shape == "and_rare_hot":
            return f"{self.term('rare')} AND {self.term('hot')}"
        if shape == "and_hot_hot":
            return f"{self.term('hot')} AND {self.term('hot')}"
        if shape == "or3":
            return " OR ".join(self.term("mid") for _ in range(3))
        if shape == "not":
            return f"{self.term('hot')} NOT {self.term('mid')}"
        if shape == "phrase":
            return self.phrase()
        if shape == "prefix":
            return self.prefix()
        if shape == "fuzzy":
            return self.fuzzy()
        raise ValueError(shape)


@dataclass(frozen=True)
class QuerySet:
    warmup: list              # (shape, query): one per code path, disjoint terms
    pool: dict                # shape -> [query, ...] for the timed stream
    batches: list             # [[(shape, query), ...], ...]


def make_queries(gen: Generated, seed: int, n_batches: int = 0,
                 batch_size: int = 0, batch_phrases: int = 0) -> QuerySet:
    rng = np.random.default_rng([seed, 21])
    pick = _Picker(gen, measure_bands(gen), rng)
    warmup = [(s, pick.query(s)) for s in WARMUP]
    pool = {s: [pick.query(s) for _ in range(POOL_PER_SHAPE)] for s in SHAPES}
    pick.reserve()
    batches = []
    for _ in range(n_batches):
        flat = [BATCH_FLAT[i % len(BATCH_FLAT)]
                for i in range(batch_size - batch_phrases)]
        shapes = flat + ["phrase"] * batch_phrases
        batches.append([(s, pick.query(s)) for s in shapes])
    return QuerySet(warmup, pool, batches)


def stream(qs: QuerySet, seed: int, shapes: tuple = SHAPES):
    """Endless closed-loop stream of (shape, query) over ``shapes``.

    Shapes come in rounds, every shape once per round in a seeded order.
    Popularity is a fixed schedule, so the share of repeats does not vary
    from seed to seed: the first round sends each shape's most popular
    query; every later round starts by sending it again for a seeded half
    of the shapes (repeats, as a search box sees) and then sends the next
    query in turn for the other half."""
    rng = np.random.default_rng([seed, 22])
    served = {s: 1 for s in shapes}
    order = [shapes[i] for i in rng.permutation(len(shapes))]
    yield from ((s, qs.pool[s][0]) for s in order)
    while True:
        order = [shapes[i] for i in rng.permutation(len(shapes))]
        half = len(order) // 2
        yield from ((s, qs.pool[s][0]) for s in order[:half])
        for s in order[half:]:
            yield s, qs.pool[s][served[s] % POOL_PER_SHAPE]
            served[s] += 1
