"""Expected answers from the pure-Python oracle, cached per input.

Every expected answer comes from ``xltsearch_spark.oracle.pyoracle``. The
oracle is slow (its index build loops over every (term, doc) pair), so the
answers and collection statistics it gives for one input are pickled under
a key that covers everything they depend on: the workload variant, the
seed, the corpus size, ``IndexConfig.config_hash()``, and the source of the
oracle, the analyzers, the query plans and the other engine modules the
oracle imports, plus the benchmark's own generator, query picker and
workload constants. A change to any of them is a new key, so a stale entry
is never read. The cache lives in the checkout's work directory and holds
only pickles this program wrote.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

# sources the oracle's answers depend on, relative to the repository root
ORACLE_SOURCES = ("xltsearch_spark/oracle", "xltsearch_spark/analyzers",
                  "xltsearch_spark/plans", "xltsearch_spark/functions",
                  "xltsearch_spark/config.py", "xltsearch_spark/operators/build.py")
GENERATOR_SOURCES = ("corpus.py", "queries.py", "workloads.py")


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    files = []
    for rel in ORACLE_SOURCES:
        p = os.path.join(root, rel)
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                files += [os.path.join(d, n) for n in names if n.endswith(".py")]
        else:
            files.append(p)
    files += [os.path.join(HERE, n) for n in GENERATOR_SOURCES]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def cache_key(variant: str, seed: int, n_docs: int, config_hash: str,
              sources: str) -> str:
    payload = f"{variant}|{seed}|{n_docs}|{config_hash}|{sources}"
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


class OracleCache:
    def __init__(self, cache_dir: str, sources: str):
        self.dir = cache_dir
        self.sources = sources
        os.makedirs(cache_dir, exist_ok=True)

    def path(self, key: str) -> str:
        return os.path.join(self.dir, f"oracle-{key}.pkl")

    def get(self, variant: str, seed: int, n_docs: int, config_hash: str,
            build, sources: str | None = None):
        """(value, was_cached). ``build()`` makes the value on a miss."""
        key = cache_key(variant, seed, n_docs, config_hash,
                        self.sources if sources is None else sources)
        p = self.path(key)
        if os.path.exists(p):
            with open(p, "rb") as f:
                return pickle.load(f), True
        value = build()
        tmp = f"{p}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(value, f, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, p)
        return value, False


def answers(oracle, queries, limit: int) -> dict:
    """query -> [(doc_id, score, repo, path), ...] in rank order."""
    return {q: [(h["doc_id"], h["score"], h["repo"], h["path"])
                for h in oracle.search(q, limit)]
            for q in queries}


def expected(table, config, singles, k_single, batch, k_batch,
             deleted=None) -> dict:
    """Everything the checks compare against, from one oracle index."""
    from xltsearch_spark.oracle.pyoracle import OracleIndex
    oracle = OracleIndex(table, config, deleted=deleted)
    return {"n_docs": oracle.n_docs, "sum_ttf": oracle.sum_ttf,
            "single": answers(oracle, singles, k_single),
            "batch": answers(oracle, batch, k_batch)}


def segment_history(v1, v2):
    """Lucene updateDocument semantics over two snapshots, as the engine's
    incremental tests model it: v1 rows keep ids 0..N-1 in (repo, path)
    order; changed and new v2 rows get fresh ids after them, in (repo, path)
    order; old versions of changed rows and deleted rows are tombstones.
    Returns (history table with doc_id, tombstoned ids)."""
    h1 = dict(zip(zip(v1["repo"], v1["path"]), v1["content"]))
    h2 = dict(zip(zip(v2["repo"], v2["path"]), v2["content"]))
    changed = {k for k, c in h2.items() if h1.get(k) != c}
    dead = {k for k in h1 if h2.get(k) != h1[k]}
    base = v1.sort_values(["repo", "path"]).reset_index(drop=True).copy()
    base["doc_id"] = range(len(base))
    keys = list(zip(base["repo"], base["path"]))
    deleted = {i for i, k in enumerate(keys) if k in dead}
    mask = [k in changed for k in zip(v2["repo"], v2["path"])]
    seg = v2[mask].sort_values(["repo", "path"]).reset_index(drop=True).copy()
    seg["doc_id"] = range(len(base), len(base) + len(seg))
    return pd.concat([base, seg], ignore_index=True), deleted
