"""Boolean/phrase/multi-term query surface (query/boolean.py): parity with
the pure-Python oracle + block-skip machinery unit tests.

Same build geometry as test_index_engine (tiny segments force multi-salt,
multi-block layouts so the skip logic is actually exercised)."""

from __future__ import annotations

import numpy as np
import pytest

from solrutils_spark.corpus import reference_queries, synth_corpus
from solrutils_spark.functions.analyzer import analyze
from solrutils_spark.index.builder import build_index
from solrutils_spark.oracle.reference_bm25 import OracleIndex
from solrutils_spark.query import arrow_rows
from solrutils_spark.query.boolean import (
    TooManyClauses,
    _levenshtein_banded,
    _sloppy_sweep,
    conj_slice,
    expand_fuzzy,
    expand_wildcard,
    needed_block_runs,
    phrase_slice,
)
from solrutils_spark.query.engine import IndexReader

N_DOCS = 400
SEGMENT_SIZE = 64


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_bool"))
    corpus = synth_corpus(spark, N_DOCS, hot_repeat=2_000)
    build_index(corpus, out, segment_size=SEGMENT_SIZE, num_salts=3, num_buckets=16)
    return out


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


@pytest.fixture(scope="module")
def oracle(spark, reader):
    rows = reader.docs.select("doc_id", "content").collect()
    return OracleIndex([(r["doc_id"], r["content"]) for r in rows])


# --------------------------------------------------- block-skip helpers ----


def test_needed_block_runs_selects_overlapping_blocks_only():
    # blocks: [10..20], (20..35], (35..50], (50..80]
    bl = np.array([20, 35, 50, 80])
    runs = needed_block_runs(bl, first_doc=10, cand=np.array([36, 37]))
    assert runs == [(2, 3)]
    # candidates straddling two non-adjacent blocks → two runs
    runs = needed_block_runs(bl, first_doc=10, cand=np.array([12, 60]))
    assert runs == [(0, 1), (3, 4)]
    # adjacent needed blocks merge into one run
    runs = needed_block_runs(bl, first_doc=10, cand=np.array([21, 36]))
    assert runs == [(1, 3)]
    # no overlap at all
    assert needed_block_runs(bl, 10, np.array([5, 9])) == []
    assert needed_block_runs(bl, 10, np.array([81, 99])) == []
    assert needed_block_runs(bl, 10, np.empty(0, np.int64)) == []


def _encoded_row(term, salt, docs, positions):
    """A PostingRow of ``docs`` (ascending) with per-doc ``positions``,
    encoded by the index codec, positional sidecar included."""
    from solrutils_spark.index.codec import encode_many, encode_positions_many

    counts = np.array([docs.size])
    tfs = np.array([len(positions[d]) for d in docs])
    enc = encode_many(counts, docs, tfs, np.full(docs.size, 10))
    deltas = np.concatenate([np.diff(positions[d], prepend=0) for d in docs])
    pos = encode_positions_many(counts, tfs, deltas.astype(np.uint64))
    r = arrow_rows.PostingRow()
    r.term, r.salt, r.df_part, r.first_doc = term, salt, np.int64(docs.size), docs[0]
    r.payload, r.pos_payload = enc.payload, pos.payload
    r.block_offset, r.pos_block_offset = enc.block_offset, pos.block_offset
    r.block_last = enc.block_last
    r.block_max_tf = enc.block_max_tf.astype(np.int64)
    r.block_min_dl = enc.block_min_dl.astype(np.int64)
    return r


def test_intersect_positions_of_runs_past_block_zero():
    """A hot term's kept blocks are runs that start past block 0, in two
    salt rows: the one batched decode and the positions decoded per run
    from its tf slices line up posting by posting."""
    from solrutils_spark.query.boolean import _intersect

    positions = {d: np.arange(1 + d % 3) * 7 + d % 5 for d in range(1200)}
    hot = [_encoded_row("hot", s, np.arange(600 * s, 600 * (s + 1)), positions)
           for s in (0, 1)]
    rare = _encoded_row("rare", 0, np.array([300, 310, 900]), positions)
    cand, decoded = _intersect([*hot, rare], {"hot": 0.5, "rare": 2.0}, 2,
                               positions=True)
    assert cand.tolist() == [300, 310, 900]
    d, tf, dl, pos = decoded["hot"]
    # blocks 2 of each salt row: docs 256..383 and 856..983
    assert d.tolist() == [*range(256, 384), *range(856, 984)]
    assert tf.tolist() == [len(positions[x]) for x in d.tolist()]
    assert (dl == 10).all()
    assert pos.tolist() == np.concatenate([positions[x] for x in d.tolist()]).tolist()


def test_levenshtein_banded_matches_full_dp():
    def full(a, b):
        la, lb = len(a), len(b)
        d = [[0] * (lb + 1) for _ in range(la + 1)]
        for i in range(la + 1):
            d[i][0] = i
        for j in range(lb + 1):
            d[0][j] = j
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                              d[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
        return d[la][lb]

    words = ["posting", "postings", "posing", "hosting", "costing",
             "post", "pasting", "sign", "posit", ""]
    for a in words:
        for b in words:
            got = _levenshtein_banded(a, b, 2)
            want = full(a, b)
            # contract: exact distance when ≤ max_edits, anything above
            # max_edits otherwise (early-exit may skip the exact value)
            if want <= 2:
                assert got == want, (a, b)
            else:
                assert got > 2, (a, b)


# ------------------------------------------------------- conj parity ----


def _multi_term_queries():
    return [
        (qid, q, k) for qid, q, k in reference_queries()
        if len(set(q.split())) >= 2
    ]


@pytest.mark.parametrize("qid,qtext,k", _multi_term_queries())
def test_conj_matches_oracle(reader, oracle, qid, qtext, k):
    got = [(r["doc_id"], r["score"]) for r in reader.search_conj(qtext, k).collect()]
    want = oracle.search_conj(qtext, k)
    assert [d for d, _ in got] == [d for d, _ in want], qtext
    assert np.allclose([s for _, s in got], [s for _, s in want], atol=1e-9)


def test_conj_domain_is_subset_of_disjunction(reader, oracle):
    q = "posting segment lucene"
    conj_ids = {r["doc_id"] for r in reader.search_conj(q, N_DOCS).collect()}
    want = set(oracle.postings["posting"]) & set(oracle.postings["segment"]) \
        & set(oracle.postings["lucene"])
    assert conj_ids == want


def test_conj_missing_term_matches_nothing(reader):
    assert reader.search_conj("posting zzzneverseen", 10).count() == 0
    assert reader.search_conj("", 10).count() == 0


def test_conj_filtered_restricts_but_never_scores(spark, reader, oracle):
    q = "posting segment"
    full = oracle.search_conj(q, N_DOCS)
    allowed = [d for d, _ in full if d % 3 == 0]
    fdf = spark.createDataFrame([(d,) for d in allowed], "doc_id long")
    got = [(r["doc_id"], r["score"])
           for r in reader.search_conj(q, 10, filter_df=fdf).collect()]
    want = [(d, s) for d, s in full if d % 3 == 0][:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    assert np.allclose([s for _, s in got], [s for _, s in want], atol=1e-9)


def test_conj_batch_rank_identical_to_per_query(reader, oracle):
    queries = _multi_term_queries()
    got = reader.search_conj_batch(queries).collect()
    by_qid: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"]))
    for qid, qtext, k in queries:
        want = [(r["doc_id"], r["score"])
                for r in reader.search_conj(qtext, k).collect()]
        batch = by_qid.get(qid, [])
        assert [d for d, _ in batch] == [d for d, _ in want], qtext
        assert np.allclose([s for _, s in batch], [s for _, s in want],
                           atol=0), qtext  # bit-identical: same kernel+order


def test_conj_batch_dead_term_query_matches_nothing(reader):
    queries = [(0, "posting segment", 5), (1, "posting zzzneverseen", 5)]
    got = reader.search_conj_batch(queries).collect()
    qids = {r["query_id"] for r in got}
    assert 1 not in qids and 0 in qids


def test_conj_batch_repeated_query_id_ranks_together(reader):
    """A query_id given twice ranks the rows of both queries together and
    keeps its last k (as ``search_batch`` does): each row once, not once
    per k-map entry."""
    a, b = "posting segment", "posting lucene"
    got = reader.search_conj_batch([(0, a, 5), (0, b, 2)]).collect()
    rows = sorted((r["rank"], r["doc_id"], r["score"]) for r in got)
    merged = sorted(
        [(r["doc_id"], r["score"]) for q in (a, b)
         for r in reader.search_conj(q, 2).collect()],
        key=lambda x: (-x[1], x[0]))[:2]
    assert [r for r, _, _ in rows] == [1, 2]
    assert [(d, s) for _, d, s in rows] == merged


def test_conj_local_matches_distributed(reader, oracle):
    for qid, qtext, k in _multi_term_queries():
        want = [(r["doc_id"], r["score"])
                for r in reader.search_conj(qtext, k).collect()]
        got = reader.search_conj_local(qtext, k)
        assert [d for d, _ in got] == [d for d, _ in want], qtext
        assert np.allclose([s for _, s in got], [s for _, s in want],
                           atol=0), qtext  # bit-identical: same kernel+order
    assert reader.search_conj_local("posting zzzneverseen", 5) == []
    assert reader.search_conj_local("", 5) == []

    # the shared intersection decodes a term's rows (one per salt) in
    # first_doc order: rows handed over in reversed salt order give exactly
    # the same (doc_id, score) arrays, for AND and for phrases
    avgdl = float(reader.stats["avgdl"])

    def same_for_reversed_salts(kernel, rows, *args):
        rows = sorted(rows, key=lambda r: (r.term, r.salt))
        assert len({r.salt for r in rows}) > 1
        want_d, want_s = kernel(rows, *args)
        got_d, got_s = kernel(rows[::-1], *args)
        assert got_d.tolist() == want_d.tolist()
        assert got_s.tolist() == want_s.tolist()
        return want_d.size

    matched = 0
    for qid, qtext, k in _multi_term_queries():
        terms = sorted(set(analyze(qtext)))
        dfs = reader.term_dfs(terms)
        if terms and len(dfs) == len(terms):
            idf = {t: reader.idf(dfs[t]) for t in terms}
            matched += same_for_reversed_salts(
                conj_slice, reader._local_rows(terms), idf, avgdl, len(terms))
    phrases = {" ".join(oracle.tokens[d][:2]) for d in sorted(oracle.tokens)[:3]}
    for phrase in sorted(phrases):
        seq = analyze(phrase)
        uniq = sorted(set(seq))
        dfs = reader.term_dfs(uniq)
        rows = arrow_rows.rows_from_arrow(
            reader._candidate_rows(uniq, positions=True).toArrow())
        for slop in (0, 2):
            matched += same_for_reversed_salts(
                phrase_slice, rows, seq, {t: reader.idf(dfs[t]) for t in uniq},
                avgdl, slop)
    assert matched


# ------------------------------------------------------ phrase parity ----


def test_phrase_matches_oracle(reader, oracle):
    # take real adjacent bigrams/trigrams from corpus docs
    phrases = []
    for doc_id in sorted(oracle.tokens)[:5]:
        toks = oracle.tokens[doc_id]
        if len(toks) >= 3:
            phrases.append(" ".join(toks[0:2]))
            phrases.append(" ".join(toks[1:4]))
    assert phrases
    for p in dict.fromkeys(phrases):
        got = [(r["doc_id"], r["score"])
               for r in reader.phrase_search(p, 10).collect()]
        want = oracle.search_phrase(p, 10)
        assert [d for d, _ in got] == [d for d, _ in want], p
        assert np.allclose([s for _, s in got], [s for _, s in want], atol=1e-9)
        assert got, p  # the phrase came from a real doc — must match itself


def test_phrase_order_matters(reader, oracle):
    # pick a bigram (a, b) where "b a" never occurs in any doc
    for doc_id in sorted(oracle.tokens):
        toks = oracle.tokens[doc_id]
        for i in range(len(toks) - 1):
            a, b = toks[i], toks[i + 1]
            if a == b:
                continue
            rev = [b, a]
            if all(
                rev != t[j : j + 2]
                for t in oracle.tokens.values()
                for j in range(len(t) - 1)
            ):
                assert reader.phrase_search(f"{a} {b}", 5).count() > 0
                assert reader.phrase_search(f"{b} {a}", 5).count() == 0
                return
    pytest.skip("no order-asymmetric bigram in corpus")


def test_phrase_single_token_degrades_to_term_query(reader):
    got = [(r["doc_id"], round(r["score"], 9))
           for r in reader.phrase_search("posting", 5).collect()]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in reader.search("posting", 5).collect()]
    assert got == want


def test_phrase_with_absent_term_is_empty(reader):
    assert reader.phrase_search("posting zzzneverseen", 5).count() == 0


def _sloppy_freq(toks: list[str], seq: list[str], slop: int) -> float:
    """Sloppy frequency of ``seq`` in ``toks`` through the engine's sweep:
    slot i's list holds the adjusted positions ``{p − i}`` of its term."""
    if len(toks) < len(seq):
        return 0.0
    lists = [[p - i for p, tok in enumerate(toks) if tok == t]
             for i, t in enumerate(seq)]
    if not all(lists):
        return 0.0
    return _sloppy_sweep(lists, seq, slop)


def test_sloppy_freq_semantics():
    toks = "aa bb cc dd".split()
    # exact adjacency: span 0 → freq 1
    assert _sloppy_freq(toks, ["aa", "bb"], 0) == 1.0
    # one gap: "aa ? cc" needs 1 move
    assert _sloppy_freq(toks, ["aa", "cc"], 0) == 0.0
    assert _sloppy_freq(toks, ["aa", "cc"], 1) == 0.5  # 1/(1+1)
    # transposition costs 2 (Lucene's documented rule)
    assert _sloppy_freq(toks, ["bb", "aa"], 1) == 0.0
    assert _sloppy_freq(toks, ["bb", "aa"], 2) == pytest.approx(1.0 / 3.0)
    # multiple windows accumulate
    toks2 = "aa bb xx aa bb".split()
    assert _sloppy_freq(toks2, ["aa", "bb"], 0) == 2.0
    # absent term → 0
    assert _sloppy_freq(toks, ["aa", "zz"], 5) == 0.0


def test_sloppy_phrase_matches_oracle(reader, oracle):
    # adjacent AND non-adjacent co-occurring pairs from real docs (positions
    # taken on the UNFILTERED analyzed token list, so the slop needed in
    # that doc is known: one-apart → ≥1, transposed-adjacent → ≥2)
    pairs = set()
    for doc_id in sorted(oracle.tokens)[:20]:
        toks = oracle.tokens[doc_id]
        if len(toks) >= 4 and len(set(toks[:4])) == 4:
            pairs.add((toks[0], toks[2]))
            pairs.add((toks[1], toks[0]))
        if len(pairs) >= 6:
            break
    assert pairs
    # at least one pair must actually match somewhere at slop 4
    any_hits = 0
    for w0, w1 in sorted(pairs):
        for slop in (1, 2, 4):
            phrase = f"{w0} {w1}"
            got = [(r["doc_id"], r["score"])
                   for r in reader.phrase_search(phrase, 10, slop=slop).collect()]
            want = oracle.search_phrase(phrase, 10, slop=slop)
            assert [d for d, _ in got] == [d for d, _ in want], (phrase, slop)
            assert np.allclose([s for _, s in got], [s for _, s in want],
                               atol=1e-9), (phrase, slop)
            any_hits += len(got)
    assert any_hits > 0  # parity over empty sets would prove nothing


def test_sloppy_subsumes_exact(reader, oracle):
    # slop=0 through the sloppy argument must equal the exact path
    phrases = []
    for doc_id in sorted(oracle.tokens)[:5]:
        toks = oracle.tokens[doc_id]
        if len(toks) >= 2 and toks[0] != toks[1]:
            phrases.append(f"{toks[0]} {toks[1]}")
    for p in phrases:
        a = [(r["doc_id"], round(r["score"], 9))
             for r in reader.phrase_search(p, 10).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in reader.phrase_search(p, 10, slop=0).collect()]
        assert a == b


def test_sloppy_repeated_terms():
    """Round-5 (was a loud gate): sloppy phrases with REPEATED terms.
    Same-term phrase slots must claim DISTINCT token positions in phrase
    order — "a a"~2 must NOT match a doc with a single ``a``. Hand cases
    plus a seeded fuzz sweep asserting (1) engine == oracle (independent
    formulations of the defined semantics) and (2) match EXISTENCE equals
    a brute-force search over injective, order-respecting assignments."""
    from itertools import product as _product

    from solrutils_spark.oracle.reference_bm25 import OracleIndex

    # single 'a' cannot satisfy two slots
    assert _sloppy_freq(["xx", "aa", "yy"], ["aa", "aa"], 2) == 0.0
    # "a x a": one window, distinct positions, span 1
    assert _sloppy_freq(["aa", "xx", "aa"], ["aa", "aa"], 2) == 0.5
    assert _sloppy_freq(["aa", "xx", "aa"], ["aa", "aa"], 0) == 0.0
    # adjacent repeat is an exact match (span 0)
    assert _sloppy_freq(["aa", "aa"], ["aa", "aa"], 1) == 1.0
    # "a ? b a" matches "a b a"~2 with adjusted span 1 (bb and the second
    # aa both sit one move late): sloppyFreq = 1/(1+1)
    assert _sloppy_freq(["aa", "zz", "bb", "aa"], ["aa", "bb", "aa"], 2) == 0.5
    assert _sloppy_freq(["aa", "zz", "bb", "aa"], ["aa", "bb", "aa"], 0) == 0.0

    def brute_exists(toks, seq, slop):
        cand = [[p for p, t in enumerate(toks) if t == s] for s in seq]
        if any(not c for c in cand):
            return False
        for combo in _product(*cand):
            ok = all(
                combo[i] != combo[j]
                and (seq[i] != seq[j] or (combo[i] < combo[j]) == (i < j))
                for i in range(len(seq)) for j in range(i)
            )
            if not ok:
                continue
            adj = [p - i for i, p in enumerate(combo)]
            if max(adj) - min(adj) <= slop:
                return True
        return False

    rng = np.random.default_rng(77)
    alphabet = ["aa", "bb", "cc"]
    seqs = [["aa", "aa"], ["aa", "aa", "aa"], ["aa", "bb", "aa"],
            ["bb", "aa", "aa"], ["aa", "bb", "bb", "aa"]]
    for draw in range(300):
        toks = [alphabet[i] for i in rng.integers(0, 3, rng.integers(2, 11))]
        seq = seqs[int(rng.integers(0, len(seqs)))]
        slop = int(rng.integers(0, 5))
        f_engine = _sloppy_freq(toks, seq, slop)
        f_oracle = OracleIndex._sloppy_pf(toks, seq, slop)
        assert f_engine == pytest.approx(f_oracle), (toks, seq, slop)
        assert (f_engine > 0) == brute_exists(toks, seq, slop), \
            (toks, seq, slop, f_engine)


def test_sloppy_repeated_terms_end_to_end(reader, oracle):
    """The repeated-term sloppy path through the full positional-sidecar
    phrase search agrees with the exhaustive oracle."""
    # build a phrase from a doc that actually repeats a term, if any
    q = None
    for doc_id in sorted(oracle.tokens):
        toks = oracle.tokens[doc_id]
        for i in range(len(toks) - 2):
            if toks[i] == toks[i + 2] and toks[i] != toks[i + 1]:
                q = f"{toks[i]} {toks[i + 2]}"
                break
        if q:
            break
    if q is None:
        q = "posting posting"
    got = [(r["doc_id"], round(r["score"], 9))
           for r in reader.phrase_search(q, 10, slop=2).collect()]
    want = [(d, round(s, 9)) for d, s in oracle.search_phrase(q, 10, slop=2)]
    assert got == want, q


# -------------------------------------------- prefix / wildcard / fuzzy ----


def test_prefix_expansion_and_docs_match_oracle(reader, oracle):
    terms = expand_wildcard(reader, "post*")
    assert terms == oracle.expand_wildcard("post*")
    assert terms  # corpus contains posting*
    got = [r["doc_id"] for r in reader.prefix_search("post*", 50).collect()]
    assert got == oracle.docs_with_any(terms)[:50]


def test_wildcard_question_mark(reader, oracle):
    pat = "p?sting"
    assert expand_wildcard(reader, pat) == oracle.expand_wildcard(pat)


def test_wildcard_expansion_cap_is_loud(reader):
    with pytest.raises(TooManyClauses):
        expand_wildcard(reader, "*", max_expansions=3)


def test_fuzzy_expansion_matches_bruteforce(reader, oracle):
    got = expand_fuzzy(reader, "posting", max_edits=1, max_expansions=1000)
    want = sorted(
        t for t in oracle.postings if _levenshtein_banded("posting", t, 1) <= 1
    )
    assert got == want
    assert "posting" in got


def test_fuzzy_search_constant_score(reader, oracle):
    rows = reader.fuzzy_search("posting", 20, max_edits=1,
                               max_expansions=1000).collect()
    assert all(r["score"] == 1.0 for r in rows)
    terms = expand_fuzzy(reader, "posting", 1, 1000)
    assert [r["doc_id"] for r in rows] == oracle.docs_with_any(terms)[:20]
