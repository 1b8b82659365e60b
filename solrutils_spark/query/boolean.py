"""Boolean / phrase / multi-term query surface over the inverted index.

The reference's query strings reach Lucene's full query syntax: the JSON
model's templates render raw query strings into ``q``/``fq``
(``Query.java:10-31`` ``query.setQuery(...)``, ``FilterQuery.java:11-64``
``addFilterQuery``), and Solr 7's parser accepts conjunctions (``q.op=AND``),
quoted phrases, prefix/wildcard terms and fuzzy terms. Rounds 1-4 rebuilt the
default disjunctive BM25 path (``query/wand.py``); this module closes the
rest of that delegated surface, Spark-first:

- **Conjunction** (``q.op=AND`` / ``+a +b``): the document must contain ALL
  query terms; the score is the SAME BM25 sum as the disjunctive path,
  restricted to the conjunctive domain (Lucene BooleanQuery with MUST
  clauses). Kernel: rarest-term-first postings intersection with **block
  skipping** — after the rarest term is decoded, later (hotter) terms decode
  only the blocks whose doc range can intersect the surviving candidate set
  (``needed_block_runs``), so a ``rare AND hot`` query decodes a fraction of
  the hot term's postings. At 100 TB this is the difference between "read
  the stopword's posting list" and "read 0.1% of it".
- **Phrase** (``"a b c"``): candidate docs from the term conjunction, then
  positional verify by re-analysis of ONLY the candidates' stored content.
  Our index stores (doc_id, tf) — no positional stream (in a Lucene index
  positions+offsets are typically the bulk of the bytes); candidate-verify
  keeps the index half the size and reads |candidates| documents, bounded by
  the rarest term's df. Scoring follows Lucene's PhraseQuery: tf = phrase
  frequency, idf = Σ idf(term), same BM25 tf normalization.
- **Prefix / wildcard** (``pre*``, ``te?m``): term-dictionary expansion over
  the ``termdf`` sidecar (vocabulary-sized, NOT corpus-sized), capped at
  ``max_expansions`` with a loud ``TooManyClauses`` (Lucene's
  maxClauseCount), then a constant-score document union (Lucene's default
  CONSTANT_SCORE rewrite for multi-term queries).
- **Fuzzy** (``term~1``): length-banded vocabulary scan + banded Levenshtein
  DP on the driver (band ⇒ |len(t)−len(q)| ≤ d is recall-lossless), then the
  same constant-score union. (Lucene builds a Levenshtein automaton; the
  band+DP is exact for our vocab sizes — at web-scale vocabularies the
  automaton/trie intersection is the upgrade path, noted in PLANS.md.)

All paths reuse the engine's layout: candidate rows pruned to the query
terms' hash buckets, per-salt-slice kernels over the same delta+VByte
payloads (``decode_run``), slice outputs unioned with no extra shuffle
(slices are disjoint doc ranges).
"""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solrutils_spark.functions.analyzer import B, K1, analyze, analyze_series
from solrutils_spark.index.codec import decode_run
from solrutils_spark.query import arrow_rows
from solrutils_spark.query.wand import _EMPTY, _member, _tfn

TOPK_DDL = "doc_id long, score double"


class TooManyClauses(ValueError):
    """Multi-term expansion exceeded ``max_expansions`` (Lucene's
    BooleanQuery.TooManyClauses / maxClauseCount analog)."""


# ------------------------------------------------------------ kernels ----


def needed_block_runs(
    block_last: np.ndarray, first_doc: int, cand: np.ndarray
) -> list[tuple[int, int]]:
    """Contiguous runs [i0, i1) of blocks whose doc range can contain a
    candidate. Block i holds postings in (block_last[i-1], block_last[i]]
    (block 0: [first_doc, block_last[0]]) — doc_ids are strictly increasing
    across the payload, so a block whose range misses every candidate can be
    skipped without decoding (same certificate structure as WAND's skip: the
    bounds come from the persisted block metadata, never from decode)."""
    bl = np.asarray(block_last, dtype=np.int64)
    if bl.size == 0 or cand.size == 0:
        return []
    lo = np.empty_like(bl)
    lo[0] = first_doc
    if bl.size > 1:
        lo[1:] = bl[:-1] + 1
    li = np.searchsorted(cand, lo, side="left")
    ri = np.searchsorted(cand, bl, side="right")
    needed = np.flatnonzero(ri > li)
    if needed.size == 0:
        return []
    cut = np.flatnonzero(np.diff(needed) > 1)
    starts = np.concatenate([[0], cut + 1])
    ends = np.concatenate([cut, [needed.size - 1]])
    return [(int(needed[s]), int(needed[e]) + 1) for s, e in zip(starts, ends)]


def conj_slice(
    rows,
    idf_by_term: dict[str, float],
    avgdl: float,
    n_terms: int,
    allowed_docs: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """ALL (doc_id, score) pairs of one salt slice under AND semantics.

    ``rows``: ``PostingRow`` records for this slice (or every salt, on the
    driver). ``n_terms``: number of live query terms — a slice
    missing any term can contain no conjunctive match and returns without
    decoding a byte. Scores are the BM25 sum over the query terms (identical
    arithmetic to the disjunctive kernels, summed rare→hot by GLOBAL df —
    idf desc, term asc — so the summation order, and hence every float, is
    identical across the distributed per-slice, batch and driver-local
    paths). ``allowed_docs``: P2 filter semantics (restricts the candidate
    set, never scores)."""
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    if len(by_term) < n_terms:
        return _EMPTY
    ordered = sorted(
        by_term.items(), key=lambda kv: (-idf_by_term[kv[0]], kv[0])
    )
    cand: np.ndarray | None = None
    tfns: list[np.ndarray] = []
    terms_in_order: list[str] = []
    for term, rlist in ordered:
        parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        for r in rlist:
            bo, bl = r.block_offset, r.block_last
            if cand is None:
                parts.append(decode_run(r.payload, int(r.df_part), bo, 0, len(bo), 0))
            else:
                for i0, i1 in needed_block_runs(bl, int(r.first_doc), cand):
                    prev_last = int(bl[i0 - 1]) if i0 else 0
                    parts.append(
                        decode_run(r.payload, int(r.df_part), bo, i0, i1, prev_last)
                    )
        if not parts:
            return _EMPTY
        d = np.concatenate([p[0] for p in parts])
        tf = np.concatenate([p[1] for p in parts])
        dl = np.concatenate([p[2] for p in parts])
        if len(parts) > 1:  # multiple rows/runs: restore global doc order
            order = np.argsort(d, kind="stable")
            d, tf, dl = d[order], tf[order], dl[order]
        if d.size == 0:
            return _EMPTY
        if cand is None:
            if allowed_docs is not None:
                ok = _member(d, allowed_docs)
                d, tf, dl = d[ok], tf[ok], dl[ok]
                if d.size == 0:
                    return _EMPTY
            cand = d
            tfns = [_tfn(tf, dl, avgdl)]
        else:
            pos = np.searchsorted(d, cand)
            ok = pos < d.size
            ok &= d[np.minimum(pos, d.size - 1)] == cand
            if not ok.any():
                return _EMPTY
            cand = cand[ok]
            sel = pos[ok]
            tfns = [t[ok] for t in tfns]
            tfns.append(_tfn(tf[sel], dl[sel], avgdl))
        terms_in_order.append(term)
    assert cand is not None
    scores = np.zeros(cand.size, dtype=np.float64)
    for term, t in zip(terms_in_order, tfns):
        scores += idf_by_term[term] * t
    return cand, scores


def topk_conj(
    rows,
    idf_by_term: dict[str, float],
    avgdl: float,
    k: int,
    n_terms: int,
    allowed_docs: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Slice-local conjunctive top-k, tie-broken (score desc, doc_id asc)."""
    d, s = conj_slice(rows, idf_by_term, avgdl, n_terms, allowed_docs)
    if d.size > k:
        order = np.lexsort((d, -s))[:k]
    else:
        order = np.lexsort((d, -s))
    return d[order], s[order]


def scored_matches_slice(
    rows, idf_by_term: dict[str, float], avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """ALL (doc_id, score) of one slice under OR semantics — the exhaustive
    per-clause contribution used by the boolean executor (no top-k cut:
    clause contributions must survive to the cross-clause aggregation).
    Contributions add in the shared ``(-idf, term)`` order."""
    ds: list[np.ndarray] = []
    cs: list[np.ndarray] = []
    for r in sorted(rows, key=lambda r: (-idf_by_term[r.term], r.term, r.salt)):
        bo = r.block_offset
        d, tf, dl = decode_run(r.payload, int(r.df_part), bo, 0, len(bo), 0)
        ds.append(d)
        cs.append(idf_by_term[r.term] * _tfn(tf, dl, avgdl))
    if not ds:
        return _EMPTY
    d = np.concatenate(ds)
    c = np.concatenate(cs)
    order = np.argsort(d, kind="stable")
    d, c = d[order], c[order]
    uniq, start = np.unique(d, return_index=True)
    sums = np.add.reduceat(c, start)
    return uniq, sums


# ------------------------------------------------- distributed surface ----


def _live_terms(reader, terms: list[str]) -> tuple[list[str], dict[str, float]]:
    dfs = reader.term_dfs(terms)
    live = [t for t in terms if dfs.get(t)]
    return live, {t: reader.idf(dfs[t]) for t in live}


def search_conj(
    reader,
    query_text: str,
    k: int = 10,
    *,
    offset: int = 0,
    filter_df: DataFrame | None = None,
) -> DataFrame:
    """Conjunctive (q.op=AND) BM25 top-k → DataFrame(doc_id, score).

    A query with ANY term absent from the corpus matches nothing (Lucene
    MUST semantics) — checked against global df before a single task runs.
    """
    terms = sorted(set(analyze(query_text)))
    if not terms:
        return reader.spark.createDataFrame([], TOPK_DDL)
    live, idf_by_term = _live_terms(reader, terms)
    if len(live) < len(terms):
        return reader.spark.createDataFrame([], TOPK_DDL)
    avgdl = float(reader.stats["avgdl"])
    fetch_k = k + offset
    n_terms = len(terms)
    cand = reader._candidate_rows(terms)

    if filter_df is not None:
        fids = reader._aligned_filter(filter_df)

        def ckernel(cand_tbl: pa.Table, fid_tbl: pa.Table) -> pa.Table:
            allowed = np.sort(fid_tbl.column("doc_id").to_numpy())
            rows = arrow_rows.rows_from_arrow(cand_tbl) if allowed.size else []
            return arrow_rows.topk_table(*topk_conj(
                rows, idf_by_term, avgdl, fetch_k, n_terms, allowed_docs=allowed))

        sliced = (
            cand.groupBy("salt")
            .cogroup(fids.groupBy("salt"))
            .applyInArrow(ckernel, schema=TOPK_DDL)
        )
    else:

        def kernel(tbl: pa.Table) -> pa.Table:
            return arrow_rows.topk_table(*topk_conj(
                arrow_rows.rows_from_arrow(tbl), idf_by_term, avgdl, fetch_k,
                n_terms))

        sliced = cand.groupBy("salt").applyInArrow(kernel, schema=TOPK_DDL)
    ranked = sliced.orderBy(F.desc("score"), F.asc("doc_id")).limit(fetch_k)
    if offset:
        ranked = ranked.offset(offset)
    return ranked


def search_conj_batch(reader, queries: list[tuple[int, str, int]]) -> DataFrame:
    """Many conjunctive queries in ONE Spark job
    → DataFrame(query_id, doc_id, score, rank).

    The conjunctive twin of :meth:`IndexReader.search_batch`: candidate rows
    for the UNION of all live query terms are fetched once, each salt slice
    runs the block-skipping intersection kernel per query, and a per-query
    window takes global top-k. Unlike the disjunctive batch there is NO
    shared decode — selective decode is the conjunctive kernel's whole win
    (each query reads only the blocks its own candidate set can touch), so
    the batch amortizes the JOB floor (scheduling + python-worker
    round-trips, the measured dominant per-query cost) and nothing else.
    Per-query results are rank- and score-identical to :meth:`search_conj`
    (same kernel, same global-idf summation order; pinned)."""
    from pyspark.sql import Window

    all_terms = sorted({t for _, q, _ in queries for t in set(analyze(q))})
    dfs = reader.term_dfs(all_terms)
    plans = []
    for qid, qtext, k in queries:
        terms = sorted(set(analyze(qtext)))
        # MUST semantics: any dead term ⇒ the query matches nothing
        if terms and all(dfs.get(t) for t in terms):
            plans.append((qid, {t: reader.idf(dfs[t]) for t in terms}, k))
    BATCH_DDL = "query_id long, doc_id long, score double"
    if not plans:
        return reader.spark.createDataFrame(
            [], BATCH_DDL + ", rank int"
        )
    avgdl = float(reader.stats["avgdl"])
    live_terms = sorted({t for _, idfs, _ in plans for t in idfs})
    cand = reader._candidate_rows(live_terms)

    def kernel(tbl: pa.Table) -> pa.Table:
        rows_by_term: dict[str, list] = {}
        for r in arrow_rows.rows_from_arrow(tbl):
            rows_by_term.setdefault(r.term, []).append(r)
        results = []
        for qid, idf_by_term, k in plans:
            if any(t not in rows_by_term for t in idf_by_term):
                continue  # slice lacks a term ⇒ no conjunctive match here
            rows = [r for t in idf_by_term for r in rows_by_term[t]]
            results.append((qid, *topk_conj(rows, idf_by_term, avgdl, k,
                                            n_terms=len(idf_by_term))))
        return arrow_rows.batch_table(results)

    sliced = cand.groupBy("salt").applyInArrow(kernel, BATCH_DDL)
    k_df = reader.spark.createDataFrame(
        [(qid, k) for qid, _, k in plans], "query_id long, k int"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        sliced.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(k_df), "query_id")
        .filter(F.col("rank") <= F.col("k"))
        .drop("k")
    )


def conj_matches(reader, terms: list[str]) -> DataFrame:
    """All doc_ids containing EVERY term (unscored conjunctive domain).
    Slices are disjoint doc ranges ⇒ the union is distinct with no extra
    shuffle (same property :meth:`IndexReader.matching_docs` relies on)."""
    terms = sorted(set(terms))
    if not terms:
        return reader.spark.createDataFrame([], "doc_id long")
    live, idf_by_term = _live_terms(reader, terms)
    if len(live) < len(terms):
        return reader.spark.createDataFrame([], "doc_id long")
    avgdl = float(reader.stats["avgdl"])
    n_terms = len(terms)
    cand = reader._candidate_rows(terms)

    def kernel(tbl: pa.Table) -> pa.Table:
        d, _ = conj_slice(
            arrow_rows.rows_from_arrow(tbl), idf_by_term, avgdl, n_terms
        )
        return pa.table({"doc_id": pa.array(d, pa.int64())})

    return cand.groupBy("salt").applyInArrow(kernel, "doc_id long")


def scored_matches(reader, terms: list[str]) -> DataFrame:
    """ALL (doc_id, score) under OR semantics — exhaustive disjunctive
    contributions for the boolean executor (domain = ≥1 term present)."""
    terms = sorted(set(terms))
    live, idf_by_term = _live_terms(reader, terms)
    if not live:
        return reader.spark.createDataFrame([], TOPK_DDL)
    avgdl = float(reader.stats["avgdl"])
    cand = reader._candidate_rows(live)

    def kernel(tbl: pa.Table) -> pa.Table:
        return arrow_rows.topk_table(*scored_matches_slice(
            arrow_rows.rows_from_arrow(tbl), idf_by_term, avgdl))

    return cand.groupBy("salt").applyInArrow(kernel, TOPK_DDL)


# --------------------------------------------------------------- phrase ----


class UnsupportedQueryFeature(ValueError):
    """Query combines features outside the supported semantics (loud gate)."""


def _phrase_freq(toks: list[str], seq: list[str]) -> int:
    m = len(seq)
    if m == 0 or len(toks) < m:
        return 0
    first = seq[0]
    n = 0
    for i in range(len(toks) - m + 1):
        if toks[i] == first and toks[i : i + m] == seq:
            n += 1
    return n


def _sloppy_freq(toks: list[str], seq: list[str], slop: int) -> float:
    """Sloppy-phrase frequency: minimal-window sweep over phrase-offset-
    adjusted positions (Lucene PhraseQuery slop semantics: ``slop`` is the
    total number of position moves allowed, a transposition costs 2, and
    each match contributes ``sloppyFreq = 1/(1 + matchLength)`` where
    matchLength is the adjusted-position span of the match window).

    The sweep: each phrase term i contributes its adjusted position list
    ``{p - i}``; pointers advance past the current minimum — when the
    current window's span is ≤ slop it is a match and the minimum advances
    (Lucene's advance-min repositioning), otherwise the minimum advances to
    seek a tighter window.

    REPEATED terms (round 5: was a loud gate): phrase slots sharing a term
    share one position list, so an unconstrained sweep could assign the
    SAME token position to two slots ("a a"~2 false-matching a doc with a
    single ``a``). Like Lucene's repeats resolution (SloppyPhraseMatcher
    keeps repeating slots at strictly increasing positions), same-term
    slots hold strictly increasing list indexes — initialized 0,1,2,… in
    slot order and cascaded forward whenever an earlier slot advances onto
    a later one. Exact phrases (slop=0) handle repeats via direct window
    comparison; corner-case windows where Lucene's tie-breaking differs
    may count matches in a different order, but match EXISTENCE and
    single-window frequencies agree (pinned by the brute-force oracle in
    tests/test_boolean.py)."""
    m = len(seq)
    if m == 0 or len(toks) < m:
        return 0.0
    lists: list[list[int]] = []
    for i, t in enumerate(seq):
        li = [p - i for p, tok in enumerate(toks) if tok == t]
        if not li:
            return 0.0
        lists.append(li)
    return _sloppy_sweep(lists, seq, slop)


def _sloppy_sweep(lists: list[list[int]], seq: list[str], slop: int) -> float:
    """The minimal-window sweep of :func:`_sloppy_freq` over pre-built
    per-slot adjusted position lists (slot i's list = {p − i}) — shared by
    the token path above and the positional-sidecar path, which builds the
    same lists from decoded positions instead of re-analysis."""
    m = len(seq)
    # same-term slot groups, each ordered by slot index
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(seq):
        groups.setdefault(t, []).append(i)
    cur = [0] * m
    for slots in groups.values():
        if len(lists[slots[0]]) < len(slots):
            return 0.0  # fewer occurrences than slots — can never match
        for j, i in enumerate(slots):
            cur[i] = j

    def advance(i: int) -> bool:
        """Bump slot i's pointer, cascading within its same-term group so
        list indexes stay strictly increasing; False = a pointer ran out."""
        cur[i] += 1
        slots = groups[seq[i]]
        prev = cur[i]
        for j in slots[slots.index(i) + 1:]:
            if cur[j] <= prev:
                cur[j] = prev + 1
            prev = cur[j]
        return all(cur[s] < len(lists[s]) for s in slots)

    freq = 0.0
    while True:
        vals = [lists[i][cur[i]] for i in range(m)]
        mn = min(vals)
        mx = max(vals)
        mn_i = vals.index(mn)
        if mx - mn <= slop:
            freq += 1.0 / (1.0 + (mx - mn))
        if not advance(mn_i):
            return freq


def phrase_search(reader, phrase_text: str, k: int = 10,
                  slop: int = 0) -> DataFrame:
    """Phrase BM25 top-k → DataFrame(doc_id, score).

    Lucene PhraseQuery scoring: tf = phrase frequency (exact-adjacency
    count at slop=0; the minimal-window sloppy frequency of
    :func:`_sloppy_freq` under slop>0), idf = Σ idf(term) over the phrase's
    UNIQUE terms, BM25 tf-normalization with the doc's |d| — reproduced
    here with the candidate-verify plan described in the module docstring.
    Single-token phrases degrade to the plain ranked query (Lucene parses
    ``"foo"`` to a TermQuery)."""
    seq = analyze(phrase_text)
    if len(seq) == 1:
        return reader.search(phrase_text, k)
    scored = phrase_scored(reader, phrase_text, slop=slop)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def phrase_slice(
    rows,
    seq: list[str],
    idf_by_term: dict[str, float],
    avgdl: float,
    slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """ALL (doc_id, score) of one salt slice for a phrase, computed from the
    POSITIONAL SIDECAR (round 6, VERDICT r5 #1) — no document re-analysis.

    Shape: rarest-first conjunctive intersection with block skipping (the
    same ``needed_block_runs`` certificate as :func:`conj_slice`), then
    positions decoded ONLY for the blocks those runs touched, then

    - slop == 0: per-slot keys ``doc·stride + (pos − slot + m)`` intersected
      across slots (`np.intersect1d`, unique+sorted by construction) — the
      surviving key count per doc IS the exact phrase frequency (repeated
      slots intersect distinct offsets of the same list, so ``"a a"`` needs
      two distinct positions, exactly like :func:`_phrase_freq`);
    - slop > 0: the existing :func:`_sloppy_sweep` over per-slot adjusted
      lists built from positions instead of re-tokenized text.

    Scoring is Lucene PhraseQuery: tf = phrase frequency, idf = Σ idf over
    unique terms, BM25 tf-normalization — bit-identical arithmetic to the
    candidate-verify path (pinned by tests)."""
    from solrutils_spark.index.codec import decode_positions_run

    uniq_terms = sorted(set(seq))
    n_terms = len(uniq_terms)
    m = len(seq)
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    if len(by_term) < n_terms:
        return _EMPTY
    ordered = sorted(
        by_term.items(), key=lambda kv: (-idf_by_term[kv[0]], kv[0])
    )
    cand: np.ndarray | None = None
    dl_first: np.ndarray | None = None
    term_data: dict[str, tuple] = {}  # term → (docs, tfs, pos_flat)
    for term, rlist in ordered:
        rlist = sorted(rlist, key=lambda r: int(r.first_doc))
        d_parts, tf_parts, dl_parts, pos_parts = [], [], [], []
        for r in rlist:
            bo, bl, pos_bo = r.block_offset, r.block_last, r.pos_block_offset
            if len(bo) and not len(pos_bo):
                raise ValueError(
                    f"positional sidecar missing for term {r.term!r} — the "
                    "index mixes pre-positions segments; rebuild it "
                    "(resume=False) or query via candidate-verify"
                )
            runs = (
                [(0, len(bo))]
                if cand is None
                else needed_block_runs(bl, int(r.first_doc), cand)
            )
            for i0, i1 in runs:
                prev_last = int(bl[i0 - 1]) if i0 else 0
                d, tf, dl = decode_run(
                    r.payload, int(r.df_part), bo, i0, i1, prev_last
                )
                d_parts.append(d)
                tf_parts.append(tf)
                dl_parts.append(dl)
                pos_parts.append(
                    decode_positions_run(r.pos_payload, pos_bo, i0, i1, tf)
                )
        if not d_parts:
            return _EMPTY
        d = np.concatenate(d_parts)
        tf = np.concatenate(tf_parts)
        dl = np.concatenate(dl_parts)
        pos_flat = np.concatenate(pos_parts)
        if d.size == 0:
            return _EMPTY
        term_data[term] = (d, tf, pos_flat)
        # narrow the candidate set (docs ascending: runs of one row are
        # ascending and rows are disjoint ascending doc ranges)
        if cand is None:
            cand = d
            dl_first = dl
        else:
            pos_idx = np.searchsorted(d, cand)
            ok = pos_idx < d.size
            ok &= d[np.minimum(pos_idx, d.size - 1)] == cand
            if not ok.any():
                return _EMPTY
            cand = cand[ok]
            dl_first = dl_first[ok]
    assert cand is not None and dl_first is not None

    def slot_positions(term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc, position) pairs of this term restricted to ``cand`` —
        vectorized gather of the candidate postings' position runs."""
        d, tf, pos_flat = term_data[term]
        idx = np.searchsorted(d, cand)  # cand ⊆ d by construction
        counts = tf[idx]
        vstart = np.zeros(d.size, dtype=np.int64)
        np.cumsum(tf[:-1], out=vstart[1:])
        starts_sel = vstart[idx]
        total = int(counts.sum())
        base = np.zeros(counts.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=base[1:])
        flat_idx = np.repeat(starts_sel - base, counts) + np.arange(total)
        return np.repeat(cand, counts), pos_flat[flat_idx]

    idf_sum = float(sum(idf_by_term.values()))
    norm = K1 * (1.0 - B + B * dl_first.astype(np.float64) / avgdl) if avgdl else np.full(cand.size, K1)

    if slop == 0:
        stride = int(dl_first.max()) + m + 1
        inter: np.ndarray | None = None
        slot_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for i, t in enumerate(seq):
            if t not in slot_cache:
                slot_cache[t] = slot_positions(t)
            docs_t, pos_t = slot_cache[t]
            keys = docs_t * stride + (pos_t - i + m)
            inter = keys if inter is None else np.intersect1d(
                inter, keys, assume_unique=True
            )
            if inter.size == 0:
                return _EMPTY
        pf_docs, pf_counts = np.unique(inter // stride, return_counts=True)
        sel = np.searchsorted(cand, pf_docs)
        pf = pf_counts.astype(np.float64)
        scores = idf_sum * pf / (pf + norm[sel])
        return pf_docs, scores
    # sloppy: per-candidate python sweep over position-built slot lists
    # (still no re-analysis; the sweep is the same code as the token path)
    slot_cache = {t: slot_positions(t) for t in set(seq)}
    out_docs: list[int] = []
    out_scores: list[float] = []
    for ci, doc in enumerate(cand.tolist()):
        lists: list[list[int]] = []
        dead = False
        for i, t in enumerate(seq):
            docs_t, pos_t = slot_cache[t]
            lo = np.searchsorted(docs_t, doc, side="left")
            hi = np.searchsorted(docs_t, doc, side="right")
            li = (pos_t[lo:hi] - i).tolist()
            if not li:
                dead = True
                break
            lists.append(li)
        if dead:
            continue
        pf = _sloppy_sweep(lists, seq, slop)
        if pf:
            out_docs.append(doc)
            out_scores.append(idf_sum * pf / (pf + float(norm[ci])))
    return (
        np.asarray(out_docs, dtype=np.int64),
        np.asarray(out_scores, dtype=np.float64),
    )


def phrase_scored(reader, phrase_text: str, slop: int = 0) -> DataFrame:
    """ALL (doc_id, score) pairs matching the phrase (un-limited — the
    boolean executor needs every contribution, not a top-k cut).

    Round 6: when the index carries the positional sidecar, phrase frequency
    comes straight from decoded positions (:func:`phrase_slice`) — the
    candidate re-analysis plan remains as the fallback for pre-sidecar
    indexes. The hot-hot phrase shape (two Zipf-head terms ⇒ candidate set
    ~corpus-sized ⇒ re-analysis ~the build's tokenize phase) was VERDICT
    round-5 finding #1; with positions the kernel decodes only the blocks
    the conjunction certificate keeps."""
    seq = analyze(phrase_text)
    if not seq:
        return reader.spark.createDataFrame([], TOPK_DDL)
    uniq = sorted(set(seq))
    live, idf_by_term = _live_terms(reader, uniq)
    if len(live) < len(uniq):
        return reader.spark.createDataFrame([], TOPK_DDL)
    idf_sum = float(sum(idf_by_term.values()))
    avgdl = float(reader.stats["avgdl"])

    if reader.has_positions():
        cand_rows = reader._candidate_rows_with_positions(uniq)
        seq_l, slop_l = list(seq), slop

        def pkernel(tbl: pa.Table) -> pa.Table:
            return arrow_rows.topk_table(*phrase_slice(
                arrow_rows.rows_from_arrow(tbl), seq_l, idf_by_term, avgdl,
                slop_l))

        return cand_rows.groupBy("salt").applyInArrow(pkernel, TOPK_DDL)

    cand = conj_matches(reader, uniq)
    # docs ⋈ candidates: candidates ≪ corpus (bounded by the rarest term's
    # df); AQE picks a broadcast of the small side at runtime — we don't
    # force a broadcast hint because "rarest df" can still be huge for a
    # phrase of two stopwords.
    joined = reader.docs.join(cand, "doc_id").select("doc_id", "content")

    def verify(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            toks_series = analyze_series(pdf["content"])
            ids, scores = [], []
            for doc_id, toks in zip(pdf["doc_id"].tolist(), toks_series.tolist()):
                pf = (_phrase_freq(toks, seq) if slop == 0
                      else _sloppy_freq(toks, seq, slop))
                if pf:
                    dl = len(toks)
                    norm = K1 * (1.0 - B + B * dl / avgdl) if avgdl else K1
                    ids.append(doc_id)
                    scores.append(idf_sum * pf / (pf + norm))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "score": pd.Series(scores, dtype="float64")}
            )

    return joined.mapInPandas(verify, TOPK_DDL)


# ---------------------------------------------- multi-term expansions ----


def _vocab_tables(reader):
    """Iterate the termdf sidecar's bucket datasets (pyarrow, cached on the
    reader). Vocabulary-sized: at 100 TB the postings are ~the corpus but the
    term dictionary is O(10⁷⁻⁸) rows — a driver scan with a pushed filter is
    the Solr analog of a terms-enum walk. (A globally SORTED term-dict
    sidecar would turn prefix scans into range pruning; noted in PLANS.md.)"""
    import pyarrow.dataset as ds

    sidecar = Path(reader.index_dir) / "termdf"
    if not sidecar.exists():
        raise FileNotFoundError(
            f"termdf sidecar missing under {reader.index_dir} — multi-term "
            "expansion needs the term dictionary (rebuild the index)"
        )
    cache = getattr(reader, "_vocab_datasets", None)
    if cache is None:
        cache = reader._vocab_datasets = {}
    for bdir in sorted(sidecar.glob("bucket=*")):
        dset = cache.get(bdir.name)
        if dset is None:
            dset = cache[bdir.name] = ds.dataset(str(bdir))
        yield dset


_WILDCARD_OK = re.compile(r"^[^*?]*[*?][*?a-z0-9_.*]*$")


def expand_wildcard(reader, pattern: str, max_expansions: int = 1024) -> list[str]:
    """Terms matching a Lucene wildcard pattern (``*`` = any run, ``?`` = one
    char). Raises :class:`TooManyClauses` past ``max_expansions`` — matching
    Lucene's loud failure instead of a silent truncation that would change
    result sets."""
    import pyarrow.compute as pc

    like = pattern.replace("%", r"\%").replace("_", r"\_")
    like = like.replace("*", "%").replace("?", "_")
    out: list[str] = []
    for dset in _vocab_tables(reader):
        tbl = dset.to_table(columns=["term"])
        mask = pc.match_like(tbl["term"], like)
        out.extend(tbl["term"].filter(mask).to_pylist())
        if len(out) > max_expansions:
            raise TooManyClauses(
                f"wildcard {pattern!r} expands to >{max_expansions} terms"
            )
    return sorted(out)


def _levenshtein_banded(a: str, b: str, max_edits: int) -> int:
    """Edit distance, early-exit above ``max_edits`` (returns max_edits+1)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > max_edits:
        return max_edits + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = cur[0]
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != b[j - 1])
            )
            if cur[j] < best:
                best = cur[j]
        if best > max_edits:
            return max_edits + 1
        prev = cur
    return prev[lb]


def expand_fuzzy(
    reader, term: str, max_edits: int = 1, max_expansions: int = 50
) -> list[str]:
    """Terms within ``max_edits`` Levenshtein of ``term`` (the term itself
    included when present). The vocabulary scan is length-banded with a
    pushed pyarrow filter (|len(t)−len(q)| ≤ d is implied by edit distance,
    so the band is recall-lossless — same argument as the spellcheck
    suggester's band, query/spellcheck.py); the DP early-exits above d."""
    import pyarrow.compute as pc

    lo, hi = len(term) - max_edits, len(term) + max_edits
    out: list[str] = []
    for dset in _vocab_tables(reader):
        tbl = dset.to_table(columns=["term"])
        lens = pc.utf8_length(tbl["term"])
        mask = pc.and_(pc.greater_equal(lens, lo), pc.less_equal(lens, hi))
        for t in tbl["term"].filter(mask).to_pylist():
            if _levenshtein_banded(term, t, max_edits) <= max_edits:
                out.append(t)
                if len(out) > max_expansions:
                    raise TooManyClauses(
                        f"fuzzy {term!r}~{max_edits} expands to "
                        f">{max_expansions} terms"
                    )
    return sorted(out)


def multi_term_docs(reader, terms: list[str]) -> DataFrame:
    """Constant-score union: DataFrame(doc_id, score=1.0) of docs containing
    ≥1 of ``terms`` (Lucene CONSTANT_SCORE multi-term rewrite — prefix,
    wildcard and fuzzy queries never rank by BM25 by default)."""
    dfs = reader.term_dfs(sorted(set(terms)))
    live = sorted(t for t, d in dfs.items() if d)
    if not live:
        return reader.spark.createDataFrame([], TOPK_DDL)
    cand = reader._candidate_rows(live)

    def kernel(tbl: pa.Table) -> pa.Table:
        docs = arrow_rows.slice_doc_ids(arrow_rows.rows_from_arrow(tbl))
        return arrow_rows.topk_table(docs, np.ones(docs.size))

    return cand.groupBy("salt").applyInArrow(kernel, TOPK_DDL)


def prefix_search(
    reader, pattern: str, k: int = 10, max_expansions: int = 1024
) -> DataFrame:
    """Prefix/wildcard query → constant-score docs, doc_id asc, first k
    (Lucene: ConstantScoreQuery(MultiTermQuery) — index order, score 1.0)."""
    if not _WILDCARD_OK.match(pattern):
        raise ValueError(f"not a wildcard pattern: {pattern!r}")
    terms = expand_wildcard(reader, pattern, max_expansions)
    return multi_term_docs(reader, terms).orderBy(F.asc("doc_id")).limit(k)


def fuzzy_search(
    reader, term: str, k: int = 10, max_edits: int = 1,
    max_expansions: int = 50,
) -> DataFrame:
    """Fuzzy query → constant-score docs, doc_id asc, first k."""
    terms = expand_fuzzy(reader, term, max_edits, max_expansions)
    return multi_term_docs(reader, terms).orderBy(F.asc("doc_id")).limit(k)
