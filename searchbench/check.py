"""The correctness rule every timed answer is held to, and its self-test.

The rule is the engine tests' rank-identity rule plus stored fields: the
answer has the oracle's length, the oracle's ``doc_id`` at every rank, the
oracle's ``repo`` and ``path`` (single queries, which join stored fields),
and scores within ``rel=1e-6, abs=1e-9`` of the oracle's.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from expected import ORACLE_SOURCES, OracleCache, cache_key, source_digest

REL, ABS = 1e-6, 1e-9


def _close(got: float, exp: float) -> bool:
    return abs(got - exp) <= max(REL * abs(exp), ABS)


def mismatch(got: list, exp: list, stored: bool = True) -> str | None:
    """``got`` and ``exp`` are rank-ordered (doc_id, score, repo, path)
    tuples. Returns why they differ, or None when the answer is correct."""
    if len(got) != len(exp):
        return f"{len(got)} hits, oracle has {len(exp)}"
    for rank, (g, e) in enumerate(zip(got, exp), 1):
        if g[0] != e[0]:
            return f"rank {rank}: doc {g[0]}, oracle doc {e[0]}"
        if stored and (g[2], g[3]) != (e[2], e[3]):
            return f"rank {rank}: {g[2]}/{g[3]}, oracle {e[2]}/{e[3]}"
        if not _close(g[1], e[1]):
            return f"rank {rank}: score {g[1]!r}, oracle {e[1]!r}"
    return None


def search_rows(rows) -> list:
    """Rows of ``SearchEngine.search(...).collect()`` in the rule's form."""
    return [(int(r["doc_id"]), float(r["score"]), r["repo"], r["path"])
            for r in rows]


def batch_rows(rows) -> dict:
    """Rows of ``SearchEngine.search_many(...).collect()``, per query id in
    rank order. A rank sequence other than 1..n is reported as a doc of -1,
    so the rule rejects it."""
    per: dict = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    out = {}
    for qid, hits in per.items():
        hits.sort()
        out[qid] = [(d if rank == i else -1, s, None, None)
                    for i, (rank, d, s) in enumerate(hits, 1)]
    return out


def selftest(exp: list, root: str) -> dict:
    """Shows the rule rejects each perturbation of a real oracle answer
    (``exp`` needs at least two hits with distinct scores or ids) and
    accepts it unperturbed. Raises on any wrong verdict."""
    if len(exp) < 2:
        raise ValueError("self-test needs an answer with two or more hits")
    swapped = [exp[1], exp[0]] + exp[2:]
    score_off = [(exp[0][0], exp[0][1] + 1e-3, exp[0][2], exp[0][3])] + exp[1:]
    dropped = exp[:-1]
    wrong_path = [(exp[0][0], exp[0][1], exp[0][2], exp[0][3] + ".x")] + exp[1:]
    verdicts = {
        "unperturbed": mismatch(list(exp), exp) is None,
        "swapped_ranks": mismatch(swapped, exp) is not None,
        "score_off_1e-3": mismatch(score_off, exp) is not None,
        "dropped_hit": mismatch(dropped, exp) is not None,
        "wrong_path": mismatch(wrong_path, exp) is not None,
    }
    verdicts.update(_cache_selftest(root))
    bad = [k for k, ok in verdicts.items() if not ok]
    if bad:
        raise RuntimeError(f"checker self-test failed: {bad}")
    return verdicts


def _cache_selftest(root: str) -> dict:
    """A cached oracle is reused only under its exact key: a change of
    seed, size, config hash or source digest is a miss and is rebuilt, and
    an edit to the oracle, an analyzer or a query plan changes the digest."""
    base = ("v", 1, 100, "cfg", "src")
    variants = [("v", 2, 100, "cfg", "src"), ("v", 1, 101, "cfg", "src"),
                ("v", 1, 100, "cfg2", "src"), ("v", 1, 100, "cfg", "src2")]
    keys_differ = all(cache_key(*v) != cache_key(*base) for v in variants)
    with tempfile.TemporaryDirectory(dir=os.environ.get("TMPDIR")) as d:
        cache = OracleCache(d, "src")
        first, hit1 = cache.get("v", 1, 100, "cfg", lambda: "old")
        again, hit2 = cache.get("v", 1, 100, "cfg", lambda: "new")
        stale, hit3 = cache.get("v", 1, 100, "cfg", lambda: "new", sources="src2")
        copy = os.path.join(d, "src")
        for rel in ORACLE_SOURCES:
            src, dst = os.path.join(root, rel), os.path.join(copy, rel)
            if os.path.isdir(src):
                shutil.copytree(src, dst, ignore=shutil.ignore_patterns("__pycache__"))
            else:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy(src, dst)
        digests = [source_digest(copy)]
        for rel in ("xltsearch_spark/oracle/pyoracle.py",
                    "xltsearch_spark/analyzers/__init__.py",
                    "xltsearch_spark/plans/parser.py"):
            with open(os.path.join(copy, rel), "a") as f:
                f.write("\n# edited\n")
            digests.append(source_digest(copy))
    return {"cache_keys_differ": keys_differ,
            "source_edits_change_digest": len(set(digests)) == len(digests),
            "cache_reused_on_same_key": (first, hit1, again, hit2) == ("old", False, "old", True),
            "stale_cache_recomputed": (stale, hit3) == ("new", False)}
