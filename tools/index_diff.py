"""Compare two index directories artifact by artifact, with pyarrow only.

Checks, in order: the artifact directories and their partition dirs
(`shard=`, `seg=`), `meta.json`, and for every artifact (docstats, blocks,
dictionary, manifest, tombstones) the distinct parquet file schemas
(field types and Spark's row metadata) and the sorted rows, binary block
streams included. `metrics.json` is ignored: it holds timings. Prints the
first difference and exits 1, else prints "identical" and exits 0.

Usage:
  python tools/index_diff.py DIR_A DIR_B
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow.dataset as ds
import pyarrow.parquet as pq


def _dirs(root: str) -> list[str]:
    return sorted(os.path.relpath(d, root)
                  for d in glob.glob(os.path.join(root, "*", "*=*"))
                  + glob.glob(os.path.join(root, "*"))
                  if os.path.isdir(d))


def _schemas(art_dir: str) -> list[str]:
    files = glob.glob(os.path.join(art_dir, "**", "*.parquet"),
                      recursive=True)
    return sorted({pq.read_schema(f).to_string(show_schema_metadata=True)
                   for f in files})


def _rows(art_dir: str) -> list[tuple]:
    tbl = ds.dataset(art_dir, format="parquet",
                     partitioning="hive").to_table()
    cols = sorted(tbl.column_names)
    return sorted(zip(*(tbl[c].to_pylist() for c in cols)), key=repr)


def diff(a: str, b: str) -> str | None:
    """The first difference between index dirs `a` and `b`, or None."""
    da, db = _dirs(a), _dirs(b)
    if da != db:
        return f"directories: {sorted(set(da) ^ set(db))}"
    with open(os.path.join(a, "meta.json")) as fa, \
            open(os.path.join(b, "meta.json")) as fb:
        ma, mb = json.load(fa), json.load(fb)
    for k in sorted(set(ma) | set(mb)):
        if ma.get(k) != mb.get(k):
            return f"meta.json {k}: {ma.get(k)!r} != {mb.get(k)!r}"
    for art in (d for d in da if "=" not in d):
        pa_, pb_ = os.path.join(a, art), os.path.join(b, art)
        if _schemas(pa_) != _schemas(pb_):
            return f"{art}: file schemas {_schemas(pa_)} != {_schemas(pb_)}"
        ra, rb = _rows(pa_), _rows(pb_)
        if len(ra) != len(rb):
            return f"{art}: {len(ra)} rows != {len(rb)} rows"
        for x, y in zip(ra, rb):
            if x != y:
                return f"{art}: first differing row {x!r} != {y!r}"
    return None


def main(argv=None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) != 2:
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    found = diff(*args)
    print(found or "identical")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
