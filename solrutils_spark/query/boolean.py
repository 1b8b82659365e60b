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
  clauses). Kernel: :func:`_intersect`, the one rarest-term-first postings
  intersection with **block skipping** — after the rarest term is decoded,
  later (hotter) terms decode only the blocks whose doc range can intersect
  the surviving candidate set (``needed_block_runs``), so a ``rare AND hot``
  query decodes a fraction of the hot term's postings. At 100 TB this is
  the difference between "read the stopword's posting list" and "read 0.1%
  of it". :func:`conj_slice` scores the intersection's postings.
- **Phrase** (``"a b c"``): the SAME :func:`_intersect` call, with the
  positions of the kept blocks decoded from the index's positional sidecar
  (a third codec stream of per-posting positions, read only by phrase
  queries) — a phrase is a conjunction plus a position check, as in
  Lucene's PhraseQuery. No document is re-analysed. Scoring follows
  Lucene's PhraseQuery: tf = phrase frequency, idf = Σ idf(term), same
  BM25 tf normalization.
- **Prefix / wildcard** (``pre*``, ``te?m``): term-dictionary expansion over
  the ``termdf`` sidecar (vocabulary-sized, NOT corpus-sized), capped at
  ``max_expansions`` with a loud ``TooManyClauses`` (Lucene's
  maxClauseCount); the docs holding ≥1 expanded term score a constant 1.0
  (Lucene's default CONSTANT_SCORE rewrite for multi-term queries).
- **Fuzzy** (``term~1``): length-banded vocabulary scan + banded Levenshtein
  DP on the driver (band ⇒ |len(t)−len(q)| ≤ d is recall-lossless), then the
  same constant-score rewrite. (Lucene builds a Levenshtein automaton; the
  band+DP is exact for our vocab sizes — at web-scale vocabularies the
  automaton/trie intersection is the upgrade path, noted in PLANS.md.)
- **Boolean tree** (``qparser``'s Lucene syntax): :func:`tree_slice`
  evaluates a compiled tree of the leaves above per salt slice, MUST /
  SHOULD / MUST_NOT as sorted-array intersection / union / difference.

All paths reuse the engine's layout: candidate rows pruned to the query
terms' hash buckets, per-salt-slice kernels over the same delta+VByte
payloads (``decode_blocks_many``) run through the reader's one grouped stage
(``IndexReader._per_slice``), slice outputs unioned with no extra shuffle
(slices are disjoint doc ranges). The phrase, multi-term and boolean
entry points live in ``qparser``: each is one tree through one such stage.
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame

from solrutils_spark.functions.analyzer import B, K1, analyze
from solrutils_spark.index.codec import (BLOCK, decode_blocks_many,
                                         decode_positions_run)
from solrutils_spark.query import arrow_rows
from solrutils_spark.query.arrow_rows import TOPK_DDL
from solrutils_spark.query.engine import ranked_page
from solrutils_spark.query.wand import (_EMPTY, _member, _prev_lasts, _tfn,
                                        topk_slice_batch)


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


def _run_positions(runs_of, tf: np.ndarray) -> np.ndarray:
    """Flat positions of the blocks :func:`_intersect` decoded for one
    term: ``runs_of`` is [(row, block runs)] in decode order and ``tf`` the
    decoded tfs of exactly those blocks; each run's positions decode from
    its slice of ``tf``."""
    out, at = [], 0
    for r, runs in runs_of:
        n = int(r.df_part)
        for i0, i1 in runs:
            count = min(n, i1 * BLOCK) - i0 * BLOCK
            out.append(decode_positions_run(
                r.pos_payload, r.pos_block_offset, i0, i1, tf[at:at + count]))
            at += count
    return np.concatenate(out)


def _intersect(
    rows,
    idf_by_term: dict[str, float],
    n_terms: int,
    allowed_docs: np.ndarray | None = None,
    *,
    positions: bool = False,
) -> tuple[np.ndarray, dict[str, tuple[np.ndarray, ...]]]:
    """Rarest-first postings intersection with block skipping — the one
    loop under every AND and phrase kernel (Lucene's ConjunctionDISI, which
    PhraseQuery also drives).

    Terms run in (idf desc, term asc) order. The rarest term decodes in
    full; each later term decodes only the blocks whose doc range can hold
    a surviving candidate (:func:`needed_block_runs`), and the candidates
    narrow to the docs it holds. A term's rows (one per salt) are disjoint,
    ascending doc ranges, so decoding them in ``first_doc`` order yields
    ascending doc_ids with no sort.

    Returns ``cand`` (ascending doc_ids holding every term, ∩
    ``allowed_docs``) and, per term in that order, the arrays of the blocks
    it decoded: ``(d, tf, dl)``, plus the flat positions when
    ``positions`` is set. ``cand`` ⊆ every term's ``d``, so
    ``np.searchsorted(d, cand)`` gathers its postings. No match (a term
    missing from ``rows``, or an empty intersection) returns an empty
    ``cand`` and no arrays."""
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    if len(by_term) < n_terms:
        return _EMPTY[0], {}
    cand: np.ndarray | None = None
    decoded: dict[str, tuple[np.ndarray, ...]] = {}
    for term in sorted(by_term, key=lambda t: (-idf_by_term[t], t)):
        # every salt row's kept blocks decode in ONE call: the decoder's
        # per-call fixed cost, not its per-block work, dominates the few
        # blocks a point query keeps
        parts, runs_of = [], []
        for r in sorted(by_term[term], key=lambda r: int(r.first_doc)):
            runs = ([(0, len(r.block_offset))] if cand is None
                    else needed_block_runs(r.block_last, int(r.first_doc), cand))
            if runs:
                blocks = np.concatenate([np.arange(i0, i1) for i0, i1 in runs])
                parts.append((r.payload, int(r.df_part), r.block_offset,
                              blocks, _prev_lasts(r)))
                runs_of.append((r, runs))
        if not parts:
            return _EMPTY[0], {}
        arrays = decode_blocks_many(parts)
        if positions:
            arrays += (_run_positions(runs_of, arrays[1]),)
        d = arrays[0]
        if cand is None:
            cand = d if allowed_docs is None else d[_member(d, allowed_docs)]
        else:
            idx = np.searchsorted(d, cand)
            ok = idx < d.size
            ok &= d[np.minimum(idx, d.size - 1)] == cand
            cand = cand[ok]
        if cand.size == 0:
            return _EMPTY[0], {}
        decoded[term] = arrays
    assert cand is not None
    return cand, decoded


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
    decoding a byte. The match set is :func:`_intersect`'s ``cand``; each
    term's postings are gathered at it and the score is the BM25 sum over
    the query terms (identical arithmetic to the disjunctive kernels,
    summed rare→hot by GLOBAL df — idf desc, term asc — so the summation
    order, and hence every float, is identical across the distributed
    per-slice, batch and driver-local paths). ``allowed_docs``: P2 filter
    semantics (restricts the candidate set, never scores)."""
    cand, decoded = _intersect(rows, idf_by_term, n_terms, allowed_docs)
    if cand.size == 0:
        return _EMPTY
    scores = np.zeros(cand.size, dtype=np.float64)
    for term, (d, tf, dl) in decoded.items():
        idx = np.searchsorted(d, cand)
        scores += idf_by_term[term] * _tfn(tf[idx], dl[idx], avgdl)
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

    def slice_conj(rows, allowed):
        return arrow_rows.topk_table(*topk_conj(
            rows, idf_by_term, avgdl, fetch_k, n_terms, allowed_docs=allowed))

    return ranked_page(reader._per_slice(
        reader._candidate_rows(terms), slice_conj, TOPK_DDL, filter_df),
        k, offset)


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
    all_terms = sorted({t for _, q, _ in queries for t in set(analyze(q))})
    dfs = reader.term_dfs(all_terms)
    plans = []
    for qid, qtext, k in queries:
        terms = sorted(set(analyze(qtext)))
        # MUST semantics: any dead term ⇒ the query matches nothing
        if terms and all(dfs.get(t) for t in terms):
            plans.append((qid, {t: reader.idf(dfs[t]) for t in terms}, k))
    avgdl = float(reader.stats["avgdl"])

    def slice_conj_batch(rows, _allowed):
        rows_by_term: dict[str, list] = {}
        for r in rows:
            rows_by_term.setdefault(r.term, []).append(r)
        results = []
        for qid, idf_by_term, k in plans:
            if any(t not in rows_by_term for t in idf_by_term):
                continue  # slice lacks a term ⇒ no conjunctive match here
            qrows = [r for t in idf_by_term for r in rows_by_term[t]]
            results.append((qid, *topk_conj(qrows, idf_by_term, avgdl, k,
                                            n_terms=len(idf_by_term))))
        return arrow_rows.batch_table(results)

    return reader._per_query_topk(plans, slice_conj_batch)


# --------------------------------------------------------------- phrase ----


def _sloppy_sweep(lists: list[list[int]], seq: list[str], slop: int) -> float:
    """Sloppy-phrase frequency of one document: minimal-window sweep over
    phrase-offset-adjusted positions (Lucene PhraseQuery slop semantics:
    ``slop`` is the total number of position moves allowed, a transposition
    costs 2, and each match contributes ``sloppyFreq = 1/(1 + matchLength)``
    where matchLength is the adjusted-position span of the match window).

    ``lists[i]``: phrase slot i's adjusted positions ``{p - i}``, ascending
    and non-empty (:func:`phrase_slice` builds them from decoded positions).
    Pointers advance past the current minimum — when the current window's
    span is ≤ slop it is a match and the minimum advances (Lucene's
    advance-min repositioning), otherwise the minimum advances to seek a
    tighter window.

    REPEATED terms: phrase slots sharing a term share one position list, so
    an unconstrained sweep could assign the SAME token position to two
    slots ("a a"~2 false-matching a doc with a single ``a``). Like Lucene's
    repeats resolution (SloppyPhraseMatcher keeps repeating slots at
    strictly increasing positions), same-term slots hold strictly
    increasing list indexes — initialized 0,1,2,… in slot order and
    cascaded forward whenever an earlier slot advances onto a later one.
    Exact phrases (slop=0) handle repeats in :func:`phrase_slice` by key
    intersection; corner-case windows where Lucene's tie-breaking differs
    may count matches in a different order, but match EXISTENCE and
    single-window frequencies agree (pinned by the brute-force oracle in
    tests/test_boolean.py)."""
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


def phrase_slice(
    rows,
    seq: list[str],
    idf_by_term: dict[str, float],
    avgdl: float,
    slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """ALL (doc_id, score) of one salt slice for a phrase, computed from the
    POSITIONAL SIDECAR — no document re-analysis.

    Shape: the conjunction's :func:`_intersect` with ``positions`` set
    (positions decoded ONLY for the blocks the intersection kept), then
    phrase frequency over the candidates it returns:

    - slop == 0: per-slot keys ``doc·stride + (pos − slot + m)`` intersected
      across slots (`np.intersect1d`, unique+sorted by construction) — the
      surviving key count per doc IS the exact phrase frequency (repeated
      slots intersect distinct offsets of the same list, so ``"a a"`` needs
      two distinct positions);
    - slop > 0: :func:`_sloppy_sweep` per candidate over per-slot adjusted
      lists built from the decoded positions.

    Scoring is Lucene PhraseQuery: tf = phrase frequency, idf = Σ idf over
    unique terms, BM25 tf-normalization — rank- and score-identical to the
    re-analysing ``OracleIndex.search_phrase`` (pinned by tests)."""
    m = len(seq)
    cand, decoded = _intersect(rows, idf_by_term, len(set(seq)), positions=True)
    if cand.size == 0:
        return _EMPTY
    d0, _, dl0, _ = next(iter(decoded.values()))
    cand_dl = dl0[np.searchsorted(d0, cand)]  # |d| of each candidate

    def slot_positions(term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc, position) pairs of this term restricted to ``cand`` —
        vectorized gather of the candidate postings' position runs."""
        d, tf, _, pos_flat = decoded[term]
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
    norm = K1 * (1.0 - B + B * cand_dl.astype(np.float64) / avgdl) if avgdl else np.full(cand.size, K1)

    if slop == 0:
        stride = int(cand_dl.max()) + m + 1
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


# ------------------------------------------------------- boolean tree ----


def tree_slice(rows, tagged: dict[int, np.ndarray], root, leaves,
               avgdl: float, span: int) -> tuple[np.ndarray, np.ndarray]:
    """ALL (doc_id, score) of one salt slice, doc_id ascending, for a tree
    compiled by ``qparser``: each leaf once, then the tree bottom-up over
    sorted doc_id arrays (SURVEY E10). ``leaves``: ``[(spec, boost)]`` —
    ``("terms", {term: idf})`` BM25, all such leaves the plans of ONE
    ``topk_slice_batch`` call with k = ``span`` (scores bit-identical to
    ``IndexReader.search``); ``("phrase", {term: idf}, seq, slop)``;
    ``("any", terms)`` constant 1.0; ``("tag", tag, score)`` constant over
    ``tagged[tag]``, the slice's ids from the stage's side. ``root``: a
    leaf index or a level ``(boost, [(node, required)], [negative node])``:
    domain ∩ required (∪ positive if none) − ∪ negative, score the positive
    nodes' added in clause order from 0.0, × boost."""
    def rows_of(terms) -> list:
        return [r for r in rows if r.term in terms]

    plans = [(i, spec[1], span) for i, (spec, _) in enumerate(leaves)
             if spec[0] == "terms"]
    out = dict.fromkeys((i for i, _, _ in plans), _EMPTY)
    for i, d, s in topk_slice_batch(
            rows_of({t for _, idfs, _ in plans for t in idfs}), plans, avgdl):
        order = np.argsort(d)
        out[i] = d[order], s[order]
    for i, (spec, boost) in enumerate(leaves):
        if spec[0] == "phrase":
            out[i] = phrase_slice(rows_of(spec[1]), spec[2], spec[1], avgdl,
                                  spec[3])
        elif spec[0] == "any":
            d = arrow_rows.slice_doc_ids(rows_of(spec[1]))
            out[i] = d, np.ones(d.size)
        elif spec[0] == "tag":
            d = tagged.get(spec[1], _EMPTY[0])
            out[i] = d, np.full(d.size, spec[2])
        out[i] = out[i][0], out[i][1] * boost  # × 1.0 is exact

    def evaluate(node) -> tuple[np.ndarray, np.ndarray]:
        if isinstance(node, int):
            return out[node]
        boost, positive, negative = node
        pos = [evaluate(n) for n, _ in positive]
        required = [d for (d, _), (_, req) in zip(pos, positive) if req]
        dom = (reduce(np.intersect1d, required) if required
               else np.unique(np.concatenate([d for d, _ in pos])))
        for n in negative:
            dom = np.setdiff1d(dom, evaluate(n)[0], assume_unique=True)
        score = np.zeros(dom.size)
        for d, s in pos:
            hit = _member(dom, d)
            score[hit] += s[np.searchsorted(d, dom[hit])]
        return dom, score * boost

    return evaluate(root)

# ---------------------------------------------- multi-term expansions ----


def _vocab_tables(reader):
    """The termdf sidecar's ``term`` column, one table per bucket (read on
    the calling thread, footers cached on the reader: ``IndexReader._read``).
    Vocabulary-sized: at 100 TB the postings are ~the corpus but the term
    dictionary is O(10⁷⁻⁸) rows — a driver scan is the Solr analog of a
    terms-enum walk. (A globally SORTED term-dict
    sidecar would turn prefix scans into range pruning; noted in PLANS.md.)"""
    sidecar = Path(reader.index_dir) / "termdf"
    if not sidecar.exists():
        raise FileNotFoundError(
            f"termdf sidecar missing under {reader.index_dir} — multi-term "
            "expansion needs the term dictionary (rebuild the index)"
        )
    for bdir in sorted(sidecar.glob("bucket=*")):
        yield reader._read(f"termdf/{bdir.name}", ["term"])


def expand_wildcard(reader, pattern: str, max_expansions: int = 1024) -> list[str]:
    """Terms matching a Lucene wildcard pattern (``*`` = any run, ``?`` = one
    char). Raises :class:`TooManyClauses` past ``max_expansions`` — matching
    Lucene's loud failure instead of a silent truncation that would change
    result sets."""
    import pyarrow.compute as pc

    like = pattern.replace("%", r"\%").replace("_", r"\_")
    like = like.replace("*", "%").replace("?", "_")
    out: list[str] = []
    for tbl in _vocab_tables(reader):
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
    pyarrow length mask (|len(t)−len(q)| ≤ d is implied by edit distance,
    so the band is recall-lossless — same argument as the spellcheck
    suggester's band, query/spellcheck.py); the DP early-exits above d."""
    import pyarrow.compute as pc

    lo, hi = len(term) - max_edits, len(term) + max_edits
    out: list[str] = []
    for tbl in _vocab_tables(reader):
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
