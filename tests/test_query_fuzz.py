"""Seeded property-fuzz of the query surface (round-4 verdict #8).

The codec has a Hypothesis round-trip; this gives queries the same
treatment: a deterministic seeded generator draws ≥200 queries mixing
hot / mid / rare vocabulary, stopword-only, OOV, camelCase composites and
punctuation, with k ∈ {1, 10, 1000}, and asserts rank identity (docIDs +
scores, atol 1e-9) against the pure-Python oracle across the engine's
execution paths:

- every draw through ``search_local`` (pyarrow serving path, WAND kernel)
- every draw through ONE distributed ``search_batch`` job (decode-once
  exhaustive batch kernel)
- a seeded subsample through distributed ``search`` (WAND) compared with
  the exhaustive batch kernel by exact ``==``

and, across paths, exact float equality: ``search_local``, ``search`` and
``search_batch`` share one BM25 arithmetic and one summation order, so
their scores must be bit-identical, not merely within atol.

One 300-doc index build, one batch job, driver-speed point queries — the
sweep stays CI-green while covering ~250 adversarial query shapes.
"""

from __future__ import annotations

import random

import pytest

from solrutils_spark.corpus import synth_corpus
from solrutils_spark.functions.analyzer import STOPWORDS
from solrutils_spark.index.builder import build_index
from solrutils_spark.oracle.reference_bm25 import OracleIndex
from solrutils_spark.query.engine import IndexReader
from solrutils_spark.query.exact import query_terms

N_DOCS = 300
N_DRAWS = 240
SEED = 20260817


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fuzzidx"))
    build_index(synth_corpus(spark, N_DOCS, hot_repeat=2_000), out,
                segment_size=64, num_salts=3, num_buckets=16)
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def oracle(reader):
    rows = reader.docs.select("doc_id", "content").collect()
    return OracleIndex([(r["doc_id"], r["content"]) for r in rows])


def _draws(oracle) -> list[tuple[int, str, int]]:
    rng = random.Random(SEED)
    # vocabulary pools by document frequency; restrict to tokens that
    # re-analyze to themselves so query text == analyzed term
    vocab = sorted(t for t in oracle.postings if query_terms(t) == [t])
    by_df = sorted(vocab, key=lambda t: (len(oracle.postings[t]), t))
    rare = by_df[: len(by_df) // 3] or vocab
    mid = by_df[len(by_df) // 3: 2 * len(by_df) // 3] or vocab
    hot = by_df[2 * len(by_df) // 3:] or vocab
    stop = sorted(STOPWORDS)
    oov = [f"zzzunseen{i}" for i in range(40)]
    camel = [f"FuzzCamel{i}Token" for i in range(20)]  # analyzer splits these
    punct = ["foo.bar(baz)", "x->y::z", "a_b_c, d!"]

    out = []
    for qid in range(N_DRAWS):
        shape = rng.randrange(8)
        if shape == 0:  # stopword-only → must return []
            terms = rng.sample(stop, rng.randint(1, 4))
        elif shape == 1:  # pure OOV → must return []
            terms = rng.sample(oov, rng.randint(1, 3))
        elif shape == 2:  # hot+rare mix (WAND's hardest pruning case)
            terms = rng.sample(hot, rng.randint(1, 2)) + rng.sample(rare, rng.randint(1, 3))
        elif shape == 3:  # single term, any df
            terms = [rng.choice(vocab)]
        elif shape == 4:  # mixed with stopwords + OOV sprinkled in
            terms = (rng.sample(mid, rng.randint(1, 3))
                     + rng.sample(stop, rng.randint(0, 2))
                     + rng.sample(oov, rng.randint(0, 1)))
        elif shape == 5:  # camelCase composites + vocab
            terms = [rng.choice(camel)] + rng.sample(vocab, rng.randint(0, 2))
        elif shape == 6:  # punctuation-heavy
            terms = [rng.choice(punct)] + rng.sample(vocab, rng.randint(0, 2))
        else:  # wide multi-term
            terms = rng.sample(vocab, rng.randint(4, 6))
        rng.shuffle(terms)
        k = rng.choice([1, 10, 1000])
        out.append((qid, " ".join(terms), k))
    return out


def _assert_rank_identical(got, expected, label):
    __tracebackhide__ = True
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"{label}: docIDs diverge\n got={got[:8]}\n exp={expected[:8]}")
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"{label} doc {gd}: {gs} vs {es}"


def test_fuzz_serving_path(reader, oracle):
    """Every draw: pyarrow serving path == oracle."""
    for qid, qtext, k in _draws(oracle):
        _assert_rank_identical(
            reader.search_local(qtext, k), oracle.search(qtext, k),
            f"fuzz q{qid} {qtext!r} k={k}")


@pytest.fixture(scope="module")
def batch(reader, oracle) -> dict[int, list]:
    """Every draw through ONE distributed batch job → {qid: [(doc, score)]}."""
    by_qid: dict[int, list] = {}
    for r in reader.search_batch(_draws(oracle)).collect():
        by_qid.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {qid: [(d, s) for _, d, s in sorted(v)] for qid, v in by_qid.items()}


def _search(reader, qtext, k):
    return [(r["doc_id"], r["score"]) for r in reader.search(qtext, k).collect()]


def test_fuzz_batch_path(oracle, batch):
    """Every draw through ONE distributed batch job == oracle (includes the
    empty-result draws: absent query_ids must simply be absent)."""
    for qid, qtext, k in _draws(oracle):
        _assert_rank_identical(batch.get(qid, []), oracle.search(qtext, k),
                               f"batch q{qid} {qtext!r} k={k}")


def test_fuzz_distributed_wand_equals_exhaustive(reader, oracle, batch):
    """Seeded subsample: distributed WAND search == oracle, and == the
    exhaustive batch kernel exactly, hence WAND pruning is exact on the
    drawn shapes."""
    rng = random.Random(SEED + 1)
    qs = [q for q in _draws(oracle) if q[1].strip()]
    for qid, qtext, k in rng.sample(qs, 6):
        got = _search(reader, qtext, k)
        _assert_rank_identical(got, oracle.search(qtext, k),
                               f"dist q{qid} {qtext!r} k={k}")
        assert got == batch.get(qid, []), f"dist q{qid} {qtext!r} k={k}"


def test_fuzz_scores_bit_identical_across_paths(reader, oracle, batch):
    """``search_local`` == ``search_batch`` on every draw and ``search`` ==
    ``search_batch`` on a seeded 40-draw subsample, with exact ``==`` on
    ids AND float scores (no atol): one arithmetic, one summation order."""
    draws = _draws(oracle)
    for qid, qtext, k in draws:
        assert reader.search_local(qtext, k) == batch.get(qid, []), (
            f"local q{qid} {qtext!r} k={k}")
    rng = random.Random(SEED + 2)
    for qid, qtext, k in rng.sample(draws, 40):
        assert _search(reader, qtext, k) == batch.get(qid, []), (
            f"dist q{qid} {qtext!r} k={k}")
