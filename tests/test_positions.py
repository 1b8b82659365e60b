"""Positional sidecar: codec round-trip, merged-layout recompute, and
phrase parity of the sidecar kernel against the re-analysing oracle on a
real index.

The sidecar is the index's third codec stream (delta+VByte positions per
posting, same 128-posting block geometry as the main payload — codec.py
"positional sidecar" section); phrase queries decode it instead of
re-analysing candidate documents (a phrase of two Zipf-head terms would
otherwise make the re-analysed candidate set ~corpus-sized).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from solrutils_spark.index.codec import (
    BLOCK,
    decode_positions_run,
    encode_positions_many,
    position_layout_from_bytes,
)

SEED = 20260822


def _random_terms(rng, n_terms, max_postings=300, max_tf=6):
    term_counts, tf_all, deltas, truth = [], [], [], []
    for _ in range(n_terms):
        p = rng.integers(1, max_postings)
        term_counts.append(int(p))
        term_truth = []
        for _ in range(int(p)):
            tf = int(rng.integers(1, max_tf))
            pos = np.sort(rng.choice(20000, size=tf, replace=False))
            term_truth.append(pos)
            tf_all.append(tf)
            d = np.empty(tf, dtype=np.uint64)
            d[0] = pos[0]
            d[1:] = np.diff(pos)
            deltas.append(d)
        truth.append(term_truth)
    return (
        np.array(term_counts),
        np.array(tf_all),
        np.concatenate(deltas),
        truth,
    )


def test_positions_roundtrip_full_and_partial_runs():
    rng = np.random.default_rng(SEED)
    term_counts, tf_all, deltas, truth = _random_terms(rng, 5)
    enc = encode_positions_many(term_counts, tf_all, deltas)
    pi = 0
    for t in range(len(term_counts)):
        P = int(term_counts[t])
        tfs_term = tf_all[pi : pi + P]
        pay = enc.payload[enc.term_byte_start[t] : enc.term_byte_end[t]]
        bo = enc.block_offset[enc.blocks_per_term[t] : enc.blocks_per_term[t + 1]]
        nb = len(bo)
        assert nb == (P + BLOCK - 1) // BLOCK
        got = decode_positions_run(pay, bo, 0, nb, tfs_term)
        assert np.array_equal(got, np.concatenate(truth[t]))
        # every single-block run decodes independently
        for b in range(nb):
            lo, hi = b * BLOCK, min((b + 1) * BLOCK, P)
            got_b = decode_positions_run(pay, bo, b, b + 1, tfs_term[lo:hi])
            assert np.array_equal(got_b, np.concatenate(truth[t][lo:hi]))
        pi += P


def test_position_layout_from_bytes_matches_encoder():
    rng = np.random.default_rng(SEED + 1)
    term_counts, tf_all, deltas, _ = _random_terms(rng, 7)
    enc = encode_positions_many(term_counts, tf_all, deltas)
    lay = position_layout_from_bytes(enc.payload, tf_all, term_counts)
    assert np.array_equal(lay.term_byte_start, enc.term_byte_start)
    assert np.array_equal(lay.term_byte_end, enc.term_byte_end)
    assert np.array_equal(lay.block_offset, enc.block_offset)
    assert np.array_equal(lay.blocks_per_term, enc.blocks_per_term)


def test_merge_concat_layout_equals_direct_encode():
    """The merge concatenates segment rows' position bytes per term and
    recomputes offsets via position_layout_from_bytes — must equal encoding
    the merged stream directly (postings are self-contained streams)."""
    rng = np.random.default_rng(SEED + 2)
    # one term split across 3 "segments"
    segs = [_random_terms(rng, 1, max_postings=150) for _ in range(3)]
    merged_tf = np.concatenate([s[1] for s in segs])
    merged_deltas = np.concatenate([s[2] for s in segs])
    merged_counts = np.array([int(sum(int(s[0][0]) for s in segs))])
    direct = encode_positions_many(merged_counts, merged_tf, merged_deltas)
    concat = np.concatenate(
        [encode_positions_many(s[0], s[1], s[2]).payload for s in segs]
    )
    assert np.array_equal(concat, direct.payload)
    lay = position_layout_from_bytes(concat, merged_tf, merged_counts)
    assert np.array_equal(lay.block_offset, direct.block_offset)
    assert np.array_equal(lay.term_byte_start, direct.term_byte_start)


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    from solrutils_spark.corpus import synth_corpus
    from solrutils_spark.index.builder import build_index
    from solrutils_spark.query.engine import IndexReader

    out = str(tmp_path_factory.mktemp("posidx"))
    corpus = synth_corpus(spark, 600, hot_repeat=500)
    build_index(corpus, out, segment_size=64, num_salts=4, num_buckets=16)
    return IndexReader(spark, out).cache_for_serving()


@pytest.fixture(scope="module")
def pos_oracle(pos_index):
    from solrutils_spark.oracle.reference_bm25 import OracleIndex

    rows = pos_index.docs.select("doc_id", "content").collect()
    return OracleIndex([(r["doc_id"], r["content"]) for r in rows])


PHRASES = [
    ("query stats", 0),
    ("posting list", 0),
    ("query stats", 2),
    ("facet counts facet", 2),  # repeated term, sloppy
    ("query query", 1),         # repeated term
    ("hotTermZipfianStorm hotTermZipfianStorm", 0),
    ("zzzabsent posting", 0),
]


@pytest.mark.parametrize("ptext,slop", PHRASES)
def test_phrase_positions_path_equals_candidate_verify(
    pos_index, pos_oracle, ptext, slop
):
    """The sidecar kernel equals candidate-verify semantics — the oracle
    re-analyses every document's content and counts phrase windows. Every
    match of the phrase's one-leaf boolean tree is compared, not a top-k."""
    from solrutils_spark.query.qparser import boolean_scored

    scored = boolean_scored(pos_index, f'"{ptext}"~{slop}')
    a = sorted(
        (r["doc_id"], round(r["score"], 12))
        for r in (scored.collect() if scored is not None else [])
    )
    n_docs = int(pos_index.stats["n_docs"])
    b = sorted(
        (d, round(s, 12)) for d, s in pos_oracle.search_phrase(ptext, n_docs, slop)
    )
    assert a == b
