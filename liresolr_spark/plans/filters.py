"""Persisted filter artifacts: precomputed fq docID sets, built once and
served from a pruned parquet read instead of a per-request docstats scan.

Reference analog: Solr's filterCache WARMING — `firstSearcher`/
`newSearcher` listeners precompute known filter bitsets before a searcher
serves traffic (the runtime cache itself is `CachingWrapperFilter`,
ref: LireRequestHandler.java:547; `LireQueryEngine._fq_allow` is the
in-memory analog). The artifact is the persistent tier under that cache:
it survives engine restarts and is shareable across engines, which is what
matters at 10^12 docs where even one docstats scan per distinct fq is a
full corpus-metadata pass.

Design:

- An artifact stores the SMALLER side of the predicate: `mode="allow"`
  (docs matching) when selective, `mode="deny"` (docs NOT matching) when
  the filter keeps most of the corpus. Both sides flow into the existing
  shard-kernel mask seam (`operators/wand.py::_restrict_df`): allow rows
  form the fq allow-list; deny rows join the tombstone deny-list (the
  kernel gives deny precedence, so tombstoned docs stay excluded either
  way). This is the "bitmap artifact for unselective fq" the kernel
  docstring promises — storing the complement bounds artifact size at
  min(|match|, |corpus| - |match|).
- Freshness is pinned to the md5 of meta.json BYTES: meta is the index's
  single commit point (build / append_segment / compact all rewrite it
  last), so any index mutation invalidates every artifact detectably. A
  stale artifact is IGNORED (the engine falls back to the scan), never
  silently served.
- The matched set is computed over RAW docstats (tombstoned docs
  included): query-time deny keeps correctness, and the artifact stays
  valid-by-fingerprint across reopens that change nothing.
- Commit is atomic: data + manifest are staged in a temp directory and
  renamed into place (the same convention as write_meta), so a crashed
  build leaves either no artifact or a complete one.

Scale shape: the build is one docstats scan + one count — O(corpus
metadata), embarrassingly parallel, run at index-build/compaction time.
Serving reads only the artifact parquet (KB-GB, proportional to the
smaller predicate side), never the corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_NAME_RE = re.compile(r"^[a-z0-9][a-z0-9_\-]{0,63}$")


def meta_fingerprint(index_dir: str) -> str:
    """md5 of meta.json bytes — the artifact-freshness key. meta.json is
    the index's single commit point, so equal bytes imply an identical
    committed index state."""
    with open(os.path.join(index_dir, "meta.json"), "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def _filters_root(index_dir: str) -> str:
    return os.path.join(index_dir, "filters")


def build_filter_artifact(
    spark: SparkSession,
    index_dir: str,
    name: str,
    predicate: str,
) -> dict:
    """Materialize the docID set of `predicate` (a SQL expression over
    docstats columns, e.g. "lang = 'en'") as `{index_dir}/filters/{name}/`.

    Stores whichever of (matching, non-matching) is smaller — see module
    docstring. The complement is computed by anti-join, NOT by negating
    the predicate: SQL three-valued logic would silently send NULL rows
    to neither side. Returns the manifest dict."""
    if not _NAME_RE.match(name):
        raise ValueError(f"artifact name must match {_NAME_RE.pattern}: {name!r}")
    # the fingerprint is captured BEFORE the first docstats scan and
    # re-verified after the data write: an index commit landing mid-build
    # would otherwise stamp the artifact fresh against a commit its data
    # does not reflect — silently-served-stale, the one failure mode this
    # module exists to prevent. On a race the build fails stale-safe (no
    # artifact is committed; the caller rebuilds against the new commit).
    fp = meta_fingerprint(index_dir)
    docstats = spark.read.parquet(f"{index_dir}/docstats")
    matched = docstats.filter(F.expr(predicate)).select("shard", "docID")
    n_total = docstats.count()
    n_matched = matched.count()
    mode = "allow" if n_matched * 2 <= n_total else "deny"
    side = (matched if mode == "allow"
            else docstats.join(matched, ["shard", "docID"], "left_anti")
                         .select("shard", "docID"))
    root = _filters_root(index_dir)
    final = os.path.join(root, name)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    # sorted within shard: the kernel mask pre-sorts anyway, but sorted
    # runs delta-encode well under parquet and read back cache-friendly
    side.repartition("shard").sortWithinPartitions("shard", "docID") \
        .write.mode("overwrite").parquet(os.path.join(tmp, "data"))
    if meta_fingerprint(index_dir) != fp:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"index {index_dir} was committed while filter artifact "
            f"{name!r} was building; rebuild against the new commit")
    manifest = {
        "name": name,
        "predicate": predicate,
        "mode": mode,
        "fingerprint": fp,
        "n_total": n_total,
        "n_matched": n_matched,
        "rows_stored": n_matched if mode == "allow" else n_total - n_matched,
    }
    with open(os.path.join(tmp, "filter.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return manifest


def load_filter_manifests(index_dir: str) -> dict[str, dict]:
    """All committed artifact manifests, keyed by name, each annotated with
    `fresh` (fingerprint matches the CURRENT meta.json). Stale artifacts
    are returned (so callers can report/rebuild them) but must not be
    served. Driver-side file reads only — manifests are tiny."""
    root = _filters_root(index_dir)
    if not os.path.isdir(root):
        return {}
    fp = meta_fingerprint(index_dir)
    out: dict[str, dict] = {}
    for entry in sorted(os.listdir(root)):
        mpath = os.path.join(root, entry, "filter.json")
        if entry.endswith(".tmp") or not os.path.isfile(mpath):
            continue  # uncommitted leftovers are invisible
        with open(mpath) as f:
            m = json.load(f)
        m["fresh"] = m.get("fingerprint") == fp
        m["data_path"] = os.path.join(root, entry, "data")
        out[m["name"]] = m
    return out


def read_filter_artifact(spark: SparkSession, index_dir: str,
                         name: str) -> tuple[DataFrame, dict]:
    """(side DataFrame(shard, docID), manifest) for a committed artifact.
    Raises if missing or STALE — serving a stale filter is silent
    wrong-results, the one failure mode this module exists to prevent."""
    m = load_filter_manifests(index_dir).get(name)
    if m is None:
        raise FileNotFoundError(f"no filter artifact {name!r} in {index_dir}")
    if not m["fresh"]:
        raise ValueError(
            f"filter artifact {name!r} is stale (index changed since it was "
            "built); rebuild with build_filter_artifact")
    return artifact_side(spark, m["data_path"]), m


def artifact_side(spark: SparkSession, data_path: str) -> DataFrame:
    """The (shard, docID) rows of an artifact's data dir, read with the
    schema build_filter_artifact writes, so building the reader runs no
    schema-inference job."""
    return spark.read.schema("shard int, docID long").parquet(data_path)


def refresh_filter_artifacts(spark: SparkSession, index_dir: str,
                             names: list[str] | None = None) -> dict:
    """Rebuild every STALE artifact (or the named subset) against the
    current index state — the `newSearcher` warming hook: run it after
    build / append_segment / compaction so known filters are warm before
    the reopened searcher serves traffic. Fresh artifacts are skipped
    (their fingerprint already matches). Returns
    {name: "fresh" | "rebuilt"}."""
    out: dict[str, str] = {}
    for name, m in load_filter_manifests(index_dir).items():
        if names is not None and name not in names:
            continue
        if m["fresh"]:
            out[name] = "fresh"
            continue
        build_filter_artifact(spark, index_dir, name, m["predicate"])
        out[name] = "rebuilt"
    return out


def drop_filter_artifact(index_dir: str, name: str) -> bool:
    """Remove an artifact (e.g. after its predicate column changed
    meaning). True if it existed."""
    path = os.path.join(_filters_root(index_dir), name)
    existed = os.path.isdir(path)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".tmp", ignore_errors=True)
    return existed
