"""Posting-block codec: delta-gap + LEB128 varint over numpy arrays.

The reference relies on Lucene's delta-gap + VInt posting compression
(surface touched at Lucene46StoredFieldsFormat.java:53-84, which documents
the VInt/packed-int encodings). We implement the same scheme vectorized in
numpy: docID runs are strictly increasing, stored as first value + gaps,
each value LEB128-varint encoded.

Blocks decode as a batch (`decode_blocks`): a column of blocks is its
streams (docids, tfs, doclens) joined, plus `counts`, the number of
postings in each block. One varint pass decodes the joined streams, and
one cumsum restarted at every block turns the docID gaps into docIDs
(`_restart_cumsum`, the rule that also restarts a positions stream at
every posting). A per-block column (term, weight, field) becomes a
per-posting one with `np.repeat(col, counts)`.

Encoders take uint64 arrays, decoders return int64 ones; all are O(n)
numpy passes with no Python per-value loop.
"""

from __future__ import annotations

import numpy as np


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = varint_byte_lengths(v)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    work = v.copy()
    max_len = int(nbytes.max())
    for byte_i in range(max_len):
        active = nbytes > byte_i
        idx = offsets[active] + byte_i
        chunk = (work[active] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[active] - 1) > byte_i  # continuation bit
        out[idx] = chunk | (cont.astype(np.uint8) << 7)
        work[active] >>= np.uint64(7)
    return out.tobytes()


def _varint_values(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(values, ends) of a LEB128 uint8 array: the uint64 values and the
    index of each value's last byte (the bytes with bit 7 clear). The
    7-bit groups of a value occupy disjoint bits, so one OR-reduce per
    value assembles it."""
    ends = np.flatnonzero((b & 0x80) == 0)
    if ends.size == 0:
        return np.zeros(0, dtype=np.uint64), ends
    starts = np.concatenate(([0], ends[:-1] + 1))
    group = np.arange(b.size) - np.repeat(starts, ends - starts + 1)
    payload = (b & 0x7F).astype(np.uint64) << (
        group.astype(np.uint64) * np.uint64(7))
    return np.bitwise_or.reduceat(payload, starts), ends


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    return _varint_values(np.frombuffer(buf, dtype=np.uint8))[0]


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing docID run -> [first, gap, gap, ...]."""
    return delta_encode_blocked(doc_ids, [0])


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.uint64), dtype=np.uint64)


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 encoded length: the number of 7-bit groups (a
    value >= 2^(7k) needs more than k bytes)."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    return nbytes


def varint_encode_slices(values: np.ndarray, bounds: np.ndarray) -> list[bytes]:
    """Encode ONE array, return per-slice bytes for [bounds[i], bounds[i+1]).

    LEB128 is self-delimiting, so slicing the single encoded buffer at
    per-value byte offsets yields exactly what encoding each slice alone
    would — one vectorized pass instead of a Python call per block (the
    index-build hot path)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b""] * (len(bounds) - 1)
    buf = varint_encode(v)
    byte_off = np.concatenate(([0], np.cumsum(varint_byte_lengths(v))))
    return [bytes(buf[byte_off[s]:byte_off[e]])
            for s, e in zip(bounds[:-1], bounds[1:])]


def delta_encode_blocked(doc_ids: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Delta-gap a docID array whose blocks restart at each `starts` index:
    gap stream equals per-block delta_encode output, computed in one pass."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    if d.size == 0:
        return d
    out = np.empty_like(d)
    out[0] = d[0]
    out[1:] = d[1:] - d[:-1]
    out[starts] = d[starts]  # each block's first value is absolute
    return out


def encode_block(
    doc_ids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray
) -> tuple[bytes, bytes, bytes]:
    """(docID run, tf run, doclen run) -> (delta+varint docids, varint tfs,
    varint doclens).

    doclens are denormalized into every block (the analog of Lucene's
    per-field norms living inside the index segment): scoring a posting
    needs the doc's length, and carrying it here means a query reads ONLY
    the blocks of its terms — never a corpus-sized doc-stats table."""
    return (
        varint_encode(delta_encode(doc_ids)),
        varint_encode(tfs),
        varint_encode(doclens),
    )


def _restart_cumsum(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Prefix sums of int64 `gaps` restarted at every run of `counts`
    values (each run's first gap is absolute): one cumsum over the whole
    stream, minus each run's carried-in prefix via np.repeat. The
    subtraction is exact even where the running sum wraps."""
    sums = np.zeros(len(gaps) + 1, dtype=np.int64)
    np.cumsum(gaps, out=sums[1:])
    return sums[1:] - np.repeat(sums[np.cumsum(counts) - counts], counts)


def decode_blocks(docids, tfs=None, doclens=None):
    """Decode a column of blocks (any sequence of bytes-like block streams:
    a list, an object ndarray or a pandas Series) in one varint pass over
    the joined streams asked for.

    Returns (docIDs, tfs, doclens, counts): the blocks' postings in block
    order as flat int64 arrays (tfs/doclens None unless their column is
    given) and the int64 number of postings in each block."""
    cols = [c for c in (docids, tfs, doclens) if c is not None]
    values, ends = _varint_values(np.frombuffer(
        b"".join(b"".join(c) for c in cols), dtype=np.uint8))
    edges = np.zeros(len(docids) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, docids), np.int64, len(docids)),
              out=edges[1:])
    # a block holds the values whose last byte lies in its byte range
    counts = np.diff(np.searchsorted(ends, edges))
    n = int(counts.sum())
    if len(values) != n * len(cols):
        raise ValueError("block streams disagree on their posting counts")
    streams = iter(np.split(values.astype(np.int64),
                            n * np.arange(1, len(cols))))
    ids = _restart_cumsum(next(streams), counts)
    return (ids, *(None if c is None else next(streams)
                   for c in (tfs, doclens)), counts)


def decode_block(
    docid_bytes: bytes, tf_bytes: bytes, doclen_bytes: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block's (docIDs, tfs, doclens): decode_blocks' batch of one."""
    return decode_blocks([docid_bytes], [tf_bytes], [doclen_bytes])[:3]


def decode_positions(
    pos_bytes: bytes, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a positions stream (Lucene .pos layout: per posting, its
    within-doc token positions delta-gapped then varint'd, postings
    concatenated — posting i owns exactly tfs[i] values). The streams of
    several blocks joined decode with their postings' tfs joined, since
    every posting restarts.

    Returns (flat_positions, offsets): posting i's positions are
    flat_positions[offsets[i]:offsets[i+1]], ascending. Raises ValueError
    when the stream does not hold sum(tfs) values."""
    gaps = varint_decode(pos_bytes)
    tfs = np.asarray(tfs, dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(tfs)))
    if gaps.size != offsets[-1]:
        raise ValueError(
            "positions stream inconsistent with tfs — index corrupt or "
            "built without positions")
    return _restart_cumsum(gaps.astype(np.int64), tfs), offsets


def positions_byte_slices(pos_bytes: bytes, tfs: np.ndarray) -> list[bytes]:
    """Split a positions stream into PER-POSTING byte slices without
    decoding values (LEB128 end-bits mark value boundaries); a posting
    with tf 0 gets b"". Positions are delta-gapped WITHIN a posting, so
    each slice is a self-contained stream — slices re-concatenate into
    valid blocks in any posting order (the zero-recode path compaction
    uses to remap docIDs without touching positions)."""
    b = np.frombuffer(pos_bytes, dtype=np.uint8)
    tfs = np.asarray(tfs, dtype=np.int64)
    if b.size == 0:
        return [b""] * len(tfs)
    ends = np.nonzero((b & 0x80) == 0)[0]  # last byte of each value
    # posting i starts one byte past the last value of its predecessors
    before = np.cumsum(tfs) - tfs
    starts_b = np.where(before > 0, ends[before - 1] + 1, 0)
    ends_b = np.append(starts_b[1:], len(b))
    raw = bytes(pos_bytes)
    return [raw[s:e] for s, e in zip(starts_b, ends_b)]
