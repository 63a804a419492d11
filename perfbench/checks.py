"""Answer checks. Term-scored requests are compared with the package's
brute-force oracle (`liresolr_spark.oracle.brute_force_topk`); every other
handler is checked for its ordering and length invariants. Checking runs
outside every timed window."""

from __future__ import annotations

import functools

from liresolr_spark import oracle
from liresolr_spark.functions.tokenizer import py_tokenize

TOL = 1e-9


def memoize_oracle_tokenizer() -> None:
    """The oracle re-tokenizes the whole corpus on every call; memoizing the
    (pure) tokenizer keeps a run's oracle calls cheap without changing a
    single score."""
    if not hasattr(oracle.py_tokenize, "cache_info"):
        oracle.py_tokenize = functools.lru_cache(maxsize=None)(py_tokenize)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(b))


def ranked_oracle(docs: list[tuple[int, str]], query: str, field: str = "text"
                  ) -> list[tuple[int, float]]:
    """Every matching doc, (score desc, docID asc), scored with the corpus
    statistics of `docs` (which include tombstoned docs until a merge, as
    the engine's df/N do)."""
    return oracle.brute_force_topk(docs, query, k=len(docs), field=field)


def expected(ranked, start: int, rows: int, allowed=None, excluded=()):
    keep = [(d, s) for d, s in ranked
            if (allowed is None or d in allowed) and d not in excluded]
    return keep[start: start + rows]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]
                 ) -> bool:
    """Equal length, scores equal within TOL position by position, and the
    same docIDs within every run of tied scores."""
    if len(got) != len(want):
        return False
    if not all(_close(g[1], w[1]) for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and _close(want[j][1], want[i][1]):
            j += 1
        if sorted(d for d, _ in got[i:j]) != sorted(d for d, _ in want[i:j]):
            return False
        i = j
    return True


def ordered(rows: list[tuple[int, float]], rows_cap: int,
            descending: bool = True) -> bool:
    """Length within the page, unique docIDs, (score, docID) total order."""
    if len(rows) > rows_cap or len({d for d, _ in rows}) != len(rows):
        return False
    sign = -1.0 if descending else 1.0
    keys = [(sign * s, d) for d, s in rows]
    return keys == sorted(keys)


def contains_phrase(tokens: list[str], phrase: list[str]) -> bool:
    n = len(phrase)
    return any(tokens[i: i + n] == phrase for i in range(len(tokens) - n + 1))


class ServeChecker:
    """Checks one served request against the generated corpus."""

    def __init__(self, docs: list[dict], vocab):
        self.docs = docs
        self.vocab = vocab
        self.pairs = [(d["docID"], d["content"]) for d in docs]
        self._ranked: dict = {}

    def _ranked_for(self, query: str, field: str):
        key = (query, field)
        if key not in self._ranked:
            self._ranked[key] = ranked_oracle(self.pairs, query, field)
        return self._ranked[key]

    def check(self, req: dict, rows: list) -> bool:
        kind = req["kind"]
        cap = req["rows"]
        if kind.startswith("search"):
            got = [(r["docID"], r["score"]) for r in rows]
            field = "ha" if "hashes" in req else "text"
            query = req["text"]
            allowed = None
            excluded: set = set()
            if "fq" in req:
                allowed = {d["docID"] for d in self.docs if req["fq_fn"](d)}
            if "must" in req:
                toks = self.vocab.tokens
                query = " ".join([query] + req["must"])
                allowed = {i for i, t in toks.items()
                           if all(m in t for m in req["must"])}
                excluded = {i for i, t in toks.items()
                            if any(m in t for m in req["must_not"])}
            want = expected(self._ranked_for(query, field), req["start"], cap,
                            allowed, excluded)
            return same_ranking(got, want)
        if kind in ("prefix", "wildcard", "fuzzy", "similar"):
            got = [(r["docID"], r["score"]) for r in rows]
            nonempty = bool(got) or "fq" in req
            return ordered(got, cap) and nonempty
        if kind == "phrase":
            got = [(r["docID"], r["score"]) for r in rows]
            phrase = py_tokenize(req["text"])
            return (ordered(got, cap) and bool(got) and all(
                contains_phrase(self.vocab.tokens[d], phrase) for d, _ in got))
        if kind == "identity":
            got = [(r["docID"], r["dist"]) for r in rows]
            return (ordered(got, cap, descending=False)
                    and all(dist < req["threshold"] for _, dist in got))
        raise ValueError(f"unknown request kind {kind!r}")
