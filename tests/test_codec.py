"""Codec round-trip units (SURVEY §5.2.1): varint, delta-gap, hex tokens.

Generalizes the reference's only test category — payload round-trip decodes
(ref: src/test/java/.../DecodingTest.java:16-34)."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from liresolr_spark.functions.codec import (
    decode_block,
    decode_blocks,
    delta_decode,
    delta_encode,
    encode_block,
    varint_decode,
    varint_encode,
)
from liresolr_spark.functions.tokenizer import java_hex32, py_tokenize


FIXED_VECTORS = [0, 1, 127, 128, 16383, 16384, 2**31 - 1, 2**63 - 1, 2**64 - 1]


def test_varint_fixed_vectors():
    for v in FIXED_VECTORS:
        a = np.array([v], dtype=np.uint64)
        assert varint_decode(varint_encode(a)).tolist() == [v]
    a = np.array(FIXED_VECTORS, dtype=np.uint64)
    assert varint_decode(varint_encode(a)).tolist() == FIXED_VECTORS


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_single_byte_values():
    a = np.arange(128, dtype=np.uint64)
    enc = varint_encode(a)
    assert len(enc) == 128  # all one byte
    assert np.array_equal(varint_decode(enc), a)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip_property(vals):
    a = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(a)), a)


@given(st.lists(st.sets(st.integers(min_value=0, max_value=2**40),
                        max_size=120), max_size=8))
@example([])
@example([set(), {2**40}, set(), {0, 1, 2**40}])
@settings(max_examples=60, deadline=None)
def test_block_roundtrip_property(blocks):
    """encode_block per block; decode_block of each block and decode_blocks
    over the column return the encoder's input, the latter concatenated
    with the true per-block counts — no blocks, empty streams, one-posting
    blocks and docIDs up to 2^40 included."""
    runs, cols = [], []
    for ids in blocks:
        doc_ids = np.array(sorted(ids), dtype=np.uint64)
        run = (doc_ids, doc_ids % np.uint64(37) + np.uint64(1),
               doc_ids % np.uint64(991) + np.uint64(1))
        enc = encode_block(*run)
        for got, want in zip(decode_block(*enc), run):
            assert np.array_equal(got, want)
        runs.append(run)
        cols.append(enc)
    docids, tfs, dls = (list(c) for c in zip(*cols)) if cols else ([],) * 3
    got = decode_blocks(docids, np.array(tfs, dtype=object), dls)
    for i in range(3):
        want = np.concatenate([r[i] for r in runs] + [np.zeros(0, np.uint64)])
        assert got[i].dtype == np.int64 and got[i].tolist() == want.tolist()
    assert got[3].tolist() == [len(ids) for ids in blocks]
    ids_only = decode_blocks(docids)
    assert ids_only[1] is None and ids_only[2] is None
    assert ids_only[0].tolist() == got[0].tolist()


@given(
    st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=30, deadline=None)
def test_grouped_encode_matches_per_block(ids, nblocks):
    """varint_encode_slices + delta_encode_blocked over a whole group must
    produce byte-identical output to encode_block per block (the build
    kernel's vectorized fast path vs the spec)."""
    from liresolr_spark.functions.codec import (
        delta_encode_blocked,
        varint_encode_slices,
    )

    doc_ids = np.array(sorted(ids), dtype=np.uint64)
    tfs = (doc_ids % np.uint64(37)) + np.uint64(1)
    dls = (doc_ids % np.uint64(991)) + np.uint64(1)
    cuts = np.unique(
        np.linspace(0, len(doc_ids), nblocks + 1, dtype=np.int64))
    starts = cuts[:-1]
    d_s = varint_encode_slices(delta_encode_blocked(doc_ids, starts), cuts)
    t_s = varint_encode_slices(tfs, cuts)
    l_s = varint_encode_slices(dls, cuts)
    for i, (s, e) in enumerate(zip(cuts[:-1], cuts[1:])):
        d, t, l = encode_block(doc_ids[s:e], tfs[s:e], dls[s:e])
        assert d_s[i] == d and t_s[i] == t and l_s[i] == l


def test_delta_adjacent_and_singleton():
    for ids in ([5], [7, 8, 9], [0, 1], [10, 1000000000]):
        a = np.array(ids, dtype=np.uint64)
        assert np.array_equal(delta_decode(delta_encode(a)), a)


def test_java_hex32_two_complement():
    # Java Integer.toHexString semantics (ref: ParallelSolrIndexer.java:197-206)
    assert java_hex32(-1) == "ffffffff"
    assert java_hex32(-2147483648) == "80000000"
    assert java_hex32(255) == "ff"
    assert java_hex32(0) == "0"


def test_tokenizer_goldens():
    assert py_tokenize("parseHTTPResponse") == ["parse", "http", "response"]
    assert py_tokenize("snake_case_id") == ["snake", "case", "id"]
    assert py_tokenize("XMLHttpRequest v2Beta") == ["xml", "http", "request", "v2", "beta"]
    assert py_tokenize("") == []
    assert py_tokenize("   \n\t ") == []
    # idempotence on already-split output
    toks = py_tokenize("fooBar_bazQux")
    assert py_tokenize(" ".join(toks)) == toks


def test_positions_roundtrip_and_byte_slices():
    """Positions stream (Lucene .pos layout): delta-within-posting + varint,
    split by tfs. Property: encode -> decode roundtrip, and per-posting
    byte slices re-concatenate into valid streams in ANY posting order (the
    zero-recode property compaction's docID remap relies on)."""
    import random

    from liresolr_spark.functions.codec import (
        decode_positions,
        delta_encode_blocked,
        positions_byte_slices,
        varint_encode,
    )

    rng = random.Random(7)
    streams, all_tfs, all_flat = [], [], []
    for trial in range(100):
        n_post = rng.randint(1, 12)
        pos_lists = [sorted(rng.sample(range(0, 5000), rng.randint(1, 9)))
                     for _ in range(n_post)]
        tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
        flat = np.array([x for p in pos_lists for x in p], dtype=np.uint64)
        starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        stream = varint_encode(delta_encode_blocked(flat, starts))
        dec, offs = decode_positions(stream, tfs)
        assert dec.tolist() == flat.tolist(), trial
        assert offs.tolist() == np.concatenate(([0], np.cumsum(tfs))).tolist()
        slices = positions_byte_slices(stream, tfs)
        perm = list(range(n_post))
        rng.shuffle(perm)
        dec2, _ = decode_positions(b"".join(slices[i] for i in perm),
                                   tfs[perm])
        assert dec2.tolist() == [x for i in perm for x in pos_lists[i]], trial
        streams.append(stream)
        all_tfs.append(tfs)
        all_flat += flat.tolist()
    # the joined streams of several blocks decode with their joined tfs
    dec, offs = decode_positions(b"".join(streams), np.concatenate(all_tfs))
    assert dec.tolist() == all_flat
    assert offs[-1] == len(all_flat)
    with pytest.raises(ValueError):
        decode_positions(b"".join(streams), np.concatenate(all_tfs)[1:])
    # a posting with tf 0 (a block without positions) slices to b""
    tfs = np.concatenate(([0], all_tfs[0], [0], all_tfs[1], [0]))
    slices = positions_byte_slices(streams[0] + streams[1], tfs)
    assert slices[0] == slices[len(all_tfs[0]) + 1] == slices[-1] == b""
    assert b"".join(slices) == streams[0] + streams[1]
    # empty stream (ha family / positionless blocks)
    d, o = decode_positions(b"", np.array([0, 0], dtype=np.int64))
    assert len(d) == 0 and o.tolist() == [0, 0, 0]
    assert positions_byte_slices(b"", np.array([0, 0])) == [b"", b""]
