"""Seeded inputs: every corpus row, request, batch and overwrite row is a
function of the `--seed` argument. The program only ever sees the generated
inputs, never the seed."""

from __future__ import annotations

import hashlib
import random
from collections import Counter

from liresolr_spark.functions.tokenizer import py_hash_token, py_tokenize

HOT = ["import", "return", "def", "public"]

# Corpus and index shape. Small enough that set-up (JVM start, corpus
# generation, positional build) and a measured window fit one run of a few
# tens of seconds on a 4-core host; large enough that every handler does
# real work (~1.9k tokens per document).
N_DOCS = 200
WARM_DOCS = 16
BLOCK_SIZE = 128
ROWS = 10

# Serve: one request of each kind per cycle, cycle order shuffled per cycle.
# The four search kinds cover rare terms with start>0, hot terms with fq,
# hashes= and must/must_not.
SERVE_KINDS = [
    "search_rare", "search_hot", "search_hashes", "search_bool", "prefix",
    "wildcard", "fuzzy", "phrase", "identity", "similar",
]

# Ingest: appended batches, overwrite share, reads after the last append
# and again after the segment merge.
APPEND_ROUNDS = 2
APPEND_DOCS = 40
OVERWRITE_SHARE = 0.25
SINGLE_READS = 4
BATCH_QUERIES = 48


def num_shards(nproc: int) -> int:
    """Two shards per core: every core gets shard-kernel work without the
    package's 32-shard default oversubscribing a small host."""
    return max(4, 2 * nproc)


class Vocab:
    """Token statistics of the generated corpus, used to draw queries."""

    def __init__(self, docs: list[dict]):
        self.tokens = {d["docID"]: py_tokenize(d["content"]) for d in docs}
        df = Counter()
        for toks in self.tokens.values():
            df.update(set(toks))
        ranked = [t for t in sorted(df, key=lambda t: (df[t], t))
                  if t not in HOT]
        # the synthetic corpus splits camelCase identifiers into a few dozen
        # syllables that nearly every document holds, so "rare" is the least
        # frequent quarter and "mid" the rest
        cut = max(8, len(ranked) // 4)
        self.rare = ranked[:cut]
        self.mid = ranked[cut:] or ranked
        self.lexical = [t for t in ranked
                        if t.isalnum() and t.islower() and len(t) >= 3]
        self.doc_ids = sorted(self.tokens)


def fq_pool(docs: list[dict]) -> list[tuple[str, object]]:
    """48 (SQL predicate, python twin) pairs — more than the engine's
    32-entry fq cache, so a stream of them both hits and misses it."""
    langs = sorted({d["lang"] for d in docs})
    dirs = sorted({d["path"].split("/")[1] for d in docs})
    orgs = sorted({d["repo"].split("/")[0] for d in docs})
    pool = [(f"lang = '{lang}'", lambda d, v=lang: d["lang"] == v)
            for lang in langs]
    pool += [(f"repo LIKE '{o}/%'",
              lambda d, v=o: d["repo"].startswith(v + "/")) for o in orgs]
    pool += [(f"path LIKE 'src/{x}/%'",
              lambda d, v=x: d["path"].startswith(f"src/{v}/")) for x in dirs]
    return pool[:48]


def _pick_fq(rng: random.Random, pool: list) -> tuple[str, object]:
    # half the draws from a 4-predicate hot set (cache hits), half uniform
    # over the whole pool (mostly misses once the pool exceeds the cache)
    return rng.choice(pool[:4]) if rng.random() < 0.5 else rng.choice(pool)


def serve_stream(seed: int, docs: list[dict], vocab: Vocab,
                 cycles: int) -> list[dict]:
    rng = random.Random(seed * 7_919 + 1)
    pool = fq_pool(docs)
    out = []
    for c in range(cycles):
        kinds = list(SERVE_KINDS)
        rng.shuffle(kinds)
        for kind in kinds:
            out.append(_request(kind, rng, vocab, pool, len(out)))
    return out


def _request(kind: str, rng: random.Random, v: Vocab, pool, n: int) -> dict:
    r = {"id": f"r{n}", "kind": kind, "rows": ROWS, "start": 0}
    if kind == "search_rare":
        r["text"] = " ".join(rng.sample(v.rare, 2))
        r["start"] = 5
    elif kind == "search_hot":
        r["text"] = " ".join(rng.sample(HOT, 2) + [rng.choice(v.mid)])
        r["fq"], r["fq_fn"] = _pick_fq(rng, pool)
    elif kind == "search_hashes":
        r["text"] = " ".join(rng.sample(v.mid, 3))
        r["hashes"] = [py_hash_token(t) for t in py_tokenize(r["text"])]
    elif kind == "search_bool":
        r["text"] = rng.choice(v.mid)
        a, b = rng.sample(HOT, 2)
        r["must"], r["must_not"] = [a], [b]
    elif kind == "prefix":
        t = rng.choice(v.lexical)
        r["prefix"] = t[:2]
        if rng.random() < 0.5:
            r["fq"], r["fq_fn"] = _pick_fq(rng, pool)
    elif kind == "wildcard":
        t = rng.choice(v.lexical)
        r["pattern"] = t[0] + "?" + t[2:] + "*"
    elif kind == "fuzzy":
        t = rng.choice(v.lexical)
        i = rng.randrange(1, len(t))
        repl = rng.choice([c for c in "abcdefghijklmnopqrstuvwxyz" if c != t[i]])
        r["term"] = t[:i] + repl + t[i + 1:]
    elif kind == "phrase":
        toks = v.tokens[rng.choice(v.doc_ids)]
        i = rng.randrange(0, len(toks) - 2)
        r["text"] = " ".join(toks[i: i + 2])
    elif kind == "identity":
        toks = v.tokens[rng.choice(v.doc_ids)]
        i = rng.randrange(0, max(1, len(toks) - 6))
        r["text"] = " ".join(toks[i: i + 6])
        r["threshold"] = 0.9
    elif kind == "similar":
        r["text"] = " ".join(rng.sample(v.mid, 2) + rng.sample(HOT, 1))
    return r


def ingest_rows(seed: int, base_docs: list[dict], gen_docs: list[dict]
                ) -> list[list[dict]]:
    """APPEND_ROUNDS batches of APPEND_DOCS corpus rows. OVERWRITE_SHARE of
    each batch re-uses the (repo, path) key of a distinct base document (a
    tombstone on the base segment); the rest are new keys. No key is written
    twice, so segment merges drop nothing and pre/post-merge answers must
    agree exactly. `gen_docs` supplies the new contents."""
    rng = random.Random(seed * 104_729 + 3)
    by_key = {(d["repo"], d["path"]): d for d in base_docs}
    victims = [by_key[k] for k in rng.sample(sorted(by_key),
                                              APPEND_ROUNDS * APPEND_DOCS)]
    n_over = int(round(APPEND_DOCS * OVERWRITE_SHARE))
    out, g = [], 0
    for rnd in range(APPEND_ROUNDS):
        batch = []
        for i in range(APPEND_DOCS):
            src = gen_docs[g]
            g += 1
            if i < n_over:
                base = victims[rnd * APPEND_DOCS + i]
                repo, path = base["repo"], base["path"]
            else:
                ext = src["path"].rsplit(".", 1)[-1]
                repo, path = src["repo"], f"ingest/r{rnd}/f{i}.{ext}"
            commit = hashlib.sha1(
                f"{repo}|{path}|{seed}|{rnd}".encode()).hexdigest()
            batch.append({"repo": repo, "path": path, "commit": commit,
                          "lang": src["lang"], "content": src["content"]})
        rng.shuffle(batch)
        out.append(batch)
    return out


def ingest_reads(seed: int, vocab: Vocab) -> tuple[dict, dict]:
    """(single reads, batch) for every commit point: SINGLE_READS texts
    served one by one, and a BATCH_QUERIES search_many batch weighted toward
    hot terms that also carries the single texts (their twins)."""
    rng = random.Random(seed * 15_485_863 + 5)
    singles = {}
    for i in range(SINGLE_READS):
        words = ([rng.choice(HOT)] if i % 2 else []) + rng.sample(vocab.mid, 2)
        singles[f"s{i}"] = " ".join(words)
    batch = dict(singles)
    for i in range(BATCH_QUERIES - SINGLE_READS):
        hot = rng.sample(HOT, rng.choice([1, 2]))
        batch[f"b{i}"] = " ".join(hot + [rng.choice(vocab.mid)])
    return singles, batch
