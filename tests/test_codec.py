"""Codec fixtures (FIXTURES.md §5): round-trip identity + block-max validity."""

from __future__ import annotations

import numpy as np
import pytest

from solrutils_spark.functions.analyzer import B, K1
from solrutils_spark.index.codec import (
    BLOCK,
    decode_block,
    decode_postings,
    encode_postings,
    vbyte_decode,
    vbyte_encode,
)

SIZES = [0, 1, 2, 127, 128, 129, 1000, 100_000]


@pytest.mark.parametrize("size", SIZES)
def test_vbyte_roundtrip(size):
    rng = np.random.default_rng(42 + size)
    vals = rng.integers(0, 2**40, size=size).astype(np.uint64)
    enc = vbyte_encode(vals)
    dec, consumed = vbyte_decode(enc, size)
    assert consumed == enc.size
    np.testing.assert_array_equal(dec, vals)


def test_vbyte_edge_values():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**35, 2**63 - 1], dtype=np.uint64)
    dec, _ = vbyte_decode(vbyte_encode(vals), len(vals))
    np.testing.assert_array_equal(dec, vals)


def _random_postings(size, seed):
    rng = np.random.default_rng(seed)
    gaps = rng.integers(1, 5000, size=size)
    doc_ids = np.cumsum(gaps).astype(np.int64)
    tfs = rng.integers(1, 300, size=size).astype(np.int64)
    dls = rng.integers(1, 5000, size=size).astype(np.int64)
    return doc_ids, tfs, dls


@pytest.mark.parametrize("size", [s for s in SIZES if s > 0])
def test_postings_roundtrip(size):
    doc_ids, tfs, dls = _random_postings(size, 7 * size + 1)
    enc = encode_postings(doc_ids, tfs, dls)
    assert enc.n == size
    assert len(enc.block_offset) == (size + BLOCK - 1) // BLOCK
    d, t, l = decode_postings(enc.n, enc.payload, enc.block_offset, enc.block_last)
    np.testing.assert_array_equal(d, doc_ids)
    np.testing.assert_array_equal(t, tfs)
    np.testing.assert_array_equal(l, dls)


def test_single_block_decode_matches_full():
    doc_ids, tfs, dls = _random_postings(1000, 99)
    enc = encode_postings(doc_ids, tfs, dls)
    for i in range(len(enc.block_offset)):
        prev_last = int(enc.block_last[i - 1]) if i > 0 else 0
        d, t, l = decode_block(enc.payload, enc.n, i, enc.block_offset, prev_last)
        lo = i * BLOCK
        np.testing.assert_array_equal(d, doc_ids[lo : lo + d.size])
        np.testing.assert_array_equal(t, tfs[lo : lo + d.size])
        np.testing.assert_array_equal(l, dls[lo : lo + d.size])
        assert int(enc.block_last[i]) == int(d[-1])


def test_block_max_bound_validity():
    """No posting in a block may beat the block's upper bound (WAND safety)."""
    doc_ids, tfs, dls = _random_postings(10_000, 5)
    enc = encode_postings(doc_ids, tfs, dls)
    avgdl = 1500.0
    for i in range(len(enc.block_offset)):
        lo, hi = i * BLOCK, min((i + 1) * BLOCK, enc.n)
        bound_tf = float(enc.block_max_tf[i])
        bound_dl = float(enc.block_min_dl[i])
        bound = bound_tf / (bound_tf + K1 * (1 - B + B * bound_dl / avgdl))
        actual = tfs[lo:hi] / (tfs[lo:hi] + K1 * (1 - B + B * dls[lo:hi] / avgdl))
        assert actual.max() <= bound + 1e-12


def test_encode_many_byte_identical_to_per_term():
    from solrutils_spark.index.codec import encode_many

    rng = np.random.default_rng(77)
    term_counts, all_docs, all_tfs, all_dls = [], [], [], []
    per_term = []
    for size in [1, 2, 127, 128, 129, 1000, 3, 1]:
        d, t, l = _random_postings(size, size * 13 + 1)
        term_counts.append(size)
        all_docs.append(d); all_tfs.append(t); all_dls.append(l)
        per_term.append(encode_postings(d, t, l))
    enc = encode_many(
        np.array(term_counts), np.concatenate(all_docs),
        np.concatenate(all_tfs), np.concatenate(all_dls),
    )
    for i, ref in enumerate(per_term):
        row = enc.row(i)
        assert row["payload"] == ref.payload.tobytes(), f"term {i} payload"
        assert row["n"] == ref.n
        assert row["block_offset"] == ref.block_offset.tolist()
        assert row["block_last"] == ref.block_last.tolist()
        assert row["block_max_tf"] == ref.block_max_tf.tolist()
        assert row["block_min_dl"] == ref.block_min_dl.tolist()


def test_decode_many_roundtrip():
    from solrutils_spark.index.codec import decode_many, encode_many

    sizes = [5, 128, 129, 1, 700]
    docs_l, tfs_l, dls_l, payloads = [], [], [], []
    for s in sizes:
        d, t, l = _random_postings(s, s * 7 + 3)
        docs_l.append(d); tfs_l.append(t); dls_l.append(l)
        payloads.append(encode_postings(d, t, l).payload.tobytes())
    docs, tfs, dls = decode_many(payloads, np.array(sizes))
    np.testing.assert_array_equal(docs, np.concatenate(docs_l))
    np.testing.assert_array_equal(tfs, np.concatenate(tfs_l))
    np.testing.assert_array_equal(dls, np.concatenate(dls_l))


def test_bucket_col_matches_python():
    """query-time term_bucket (zlib.crc32) must equal build-time Spark crc32."""
    from solrutils_spark.session import get_spark
    from solrutils_spark.index.merge import bucket_col, term_bucket
    from pyspark.sql import functions as F

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    terms = ["posting", "merge", "инвертированный", "倒排", "a" * 100, "x"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {r["term"]: r["b"] for r in df.select("term", bucket_col(F.col("term"), 64).alias("b")).collect()}
    for t in terms:
        assert got[t] == term_bucket(t, 64), t


def _prev_lasts(enc) -> np.ndarray:
    """Per block, the last doc before it (block 0's entry is ignored)."""
    out = np.zeros(len(enc.block_offset), dtype=np.int64)
    out[1:] = enc.block_last[:-1]
    return out


def _expected(arrays, sel) -> list[np.ndarray]:
    """The encoder's input arrays, sliced per selected block."""
    return [np.concatenate([a[i * BLOCK:(i + 1) * BLOCK] for i in sel])
            for a in arrays]


def test_decode_contiguous_runs():
    """Contiguous block runs, including runs that start past block 0."""
    from solrutils_spark.index.codec import decode_blocks_many

    d, t, l = _random_postings(1000, 99)
    enc = encode_postings(d, t, l)
    nb = len(enc.block_offset)
    for i0, i1 in [(0, nb), (0, 1), (3, 7), (nb - 1, nb), (2, 3)]:
        sel = np.arange(i0, i1)
        got = decode_blocks_many(
            [(enc.payload, enc.n, enc.block_offset, sel, _prev_lasts(enc))])
        for g, e in zip(got, _expected((d, t, l), sel)):
            np.testing.assert_array_equal(g, e)


def test_decode_blocks_scattered():
    from solrutils_spark.index.codec import decode_blocks_many

    d, t, l = _random_postings(1000, 123)
    enc = encode_postings(d, t, l)
    nb = len(enc.block_offset)
    for sel in [[0], [nb - 1], [0, 2, 3, 6], list(range(nb)), [1, 5]]:
        sel = np.array(sel)
        got = decode_blocks_many(
            [(enc.payload, enc.n, enc.block_offset, sel, _prev_lasts(enc))])
        for g, e in zip(got, _expected((d, t, l), sel)):
            np.testing.assert_array_equal(g, e)


# property-based round-trip (hypothesis) — SURVEY §5.2 item 4
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        gaps=st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=400),
        tf_seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    @settings(max_examples=50, deadline=None)
    def test_property_roundtrip(gaps, tf_seed):
        from solrutils_spark.index.codec import decode_blocks_many, decode_many

        rng = np.random.default_rng(tf_seed)
        docs = np.cumsum(np.array(gaps, dtype=np.int64))
        tfs = rng.integers(1, 1000, size=len(gaps)).astype(np.int64)
        dls = rng.integers(1, 100000, size=len(gaps)).astype(np.int64)
        enc = encode_postings(docs, tfs, dls)
        every = np.arange(len(enc.block_offset))
        for d, t, l in (
            decode_postings(enc.n, enc.payload, enc.block_offset, enc.block_last),
            decode_many([enc.payload.tobytes()], np.array([enc.n])),
            decode_blocks_many([(enc.payload, enc.n, enc.block_offset, every,
                                 _prev_lasts(enc))]),
        ):
            np.testing.assert_array_equal(d, docs)
            np.testing.assert_array_equal(t, tfs)
            np.testing.assert_array_equal(l, dls)

except ImportError:  # pragma: no cover
    pass


def test_decode_blocks_many_equals_per_row():
    """Round-4: the grouped multi-row decoder (incl. its cache-budget
    chunking and contiguous-run slice fast path) must return each row's
    selected blocks of the encoder's input, concatenated in row order, on
    random rows with random block subsets."""
    import random

    from solrutils_spark.index.codec import _DECODE_CHUNK_DOCS, decode_blocks_many

    rng = random.Random(777)
    parts, want_d, want_t, want_l = [], [], [], []
    base_doc = 0
    # enough rows to force multiple chunk groups through the 16k-doc budget
    for _ in range(40):
        size = rng.choice([1, 3, 127, 128, 129, 500, 2048, 4096])
        d, t, l = _random_postings(size, base_doc + 1)
        base_doc = int(d[-1]) + rng.randint(1, 50)
        enc = encode_postings(d, t, l)
        payload = np.frombuffer(enc.payload.tobytes(), dtype=np.uint8)
        nb = len(enc.block_offset)
        mode = rng.randrange(3)
        if mode == 0:
            sel = np.arange(nb)  # full contiguous (slice fast path)
        elif mode == 1 and nb > 1:
            a = rng.randrange(nb)
            b = rng.randrange(a, nb)
            sel = np.arange(a, b + 1)  # partial contiguous
        else:
            sel = np.flatnonzero([rng.random() < 0.6 for _ in range(nb)])
            if sel.size == 0:
                sel = np.array([0])
        prev_lasts = _prev_lasts(enc)
        prev_lasts[0] = int(d[0]) - 1
        parts.append((payload, size, np.asarray(enc.block_offset, dtype=np.int32),
                      sel, prev_lasts))
        ed, et, el = _expected((d, t, l), sel)
        want_d.append(ed); want_t.append(et); want_l.append(el)
    got_d, got_t, got_l = decode_blocks_many(parts)
    assert sum(len(x) for x in want_d) > _DECODE_CHUNK_DOCS  # chunking engaged
    np.testing.assert_array_equal(got_d, np.concatenate(want_d))
    np.testing.assert_array_equal(got_t, np.concatenate(want_t))
    np.testing.assert_array_equal(got_l, np.concatenate(want_l))
