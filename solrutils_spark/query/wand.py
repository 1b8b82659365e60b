"""E5 — block-max WAND / MaxScore top-k kernel (numpy, prune-only ⇒ exact).

The reference's ranked retrieval is Lucene's BooleanQuery + BM25 TopDocs
collector with block-max WAND skipping (Lucene 8 BMW / the public block-max
WAND literature). :func:`topk_rows` is the vectorized term-at-a-time
variant, and the ONLY pruning kernel — every execution shape runs it:

- ``search_local``: every (term, salt) row of the query on the driver, one
  shared θ across salts;
- ``search`` (with or without filters): one salt slice's rows per
  ``applyInArrow`` group — slices are disjoint doc ranges, so top-k is
  embarrassingly parallel and Spark merges len(slices)·k candidate rows.

Rows reach it through the one Arrow adapter (``arrow_rows.rows_from_arrow``)
on both sides. Terms are processed rare→hot; before decoding a block of
term *t* the kernel checks the certificate::

      max(best accumulated score inside the block's doc range, 0)
        + block_upper_bound(t)                      ← from block_max_tf/min_dl
        + Σ upper bounds of not-yet-processed terms
      < θ   (θ = current k-th best accumulated score)

Any doc in a skipped block finishes strictly below θ, and θ can only grow
toward the true k-th final score — so skipping never changes the top-k set,
scores, or tie-breaks. :func:`topk_slice_batch` is the deliberately
exhaustive many-queries kernel and doubles as the exhaustive reference
(tests compare WAND ``search`` against ``search_batch`` with exact ``==``).

One BM25 arithmetic and one summation order everywhere: a posting scores
``idf * _tfn(tf, dl, avgdl)`` and a doc's terms add from 0.0 in
``(-idf, term)`` order (rare first; the conjunction kernels in boolean.py
share both), so every path returns bit-identical floats.
"""

from __future__ import annotations

import numpy as np

from solrutils_spark.functions.analyzer import B, K1
from solrutils_spark.index.codec import BLOCK, decode_blocks_many, decode_run


# test-visible instrumentation: how many times a kernel switched into
# MaxScore lookup mode this process (one increment per switch, off the
# per-block hot path). Tests pin that the skewed-query fixture actually
# exercises the lookup branch, not just that results stay identical.
KERNEL_STATS = {"lookup_on": 0}

_EMPTY = (np.empty(0, np.int64), np.empty(0, np.float64))


def _tfn(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """BM25 tf-normalization; with (block_max_tf, block_min_dl) it is the
    block's upper bound."""
    tfv = tf.astype(np.float64)
    return tfv / (tfv + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))


def _member(d: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Mask of the entries of ``d`` present in sorted ``sorted_ids``."""
    if sorted_ids.size == 0:
        return np.zeros(d.size, dtype=bool)
    pos = np.minimum(np.searchsorted(sorted_ids, d), sorted_ids.size - 1)
    return sorted_ids[pos] == d


def _prev_lasts(row) -> np.ndarray:
    """Per block, the last doc id before it (block 0: ``first_doc - 1``)."""
    out = np.empty(len(row.block_last), dtype=np.int64)
    out[0] = int(row.first_doc) - 1
    out[1:] = row.block_last[:-1]
    return out


def _range_max(values: np.ndarray, left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """max(values[left_i:right_i]) per range, 0.0 for empty ranges — one
    ``maximum.reduceat`` instead of a Python loop per block (left/right are
    non-decreasing because block doc-ranges ascend and values' keys are sorted).

    No padding copy: ``reduceat`` needs indices < size, so boundaries at
    ``size`` are clamped to ``size - 1`` (the segment loses its last element)
    and patched with ``values[-1]`` afterwards. The old ``np.append`` pad
    copied the WHOLE accumulator per call — profiled at ~8% of serving p50
    at 1M docs (3,952 calls x O(acc) copies)."""
    out = np.zeros(left.size, dtype=np.float64)
    size = values.size
    # left >= size would alias to values[size-1] after the clamp below — such
    # segments lie entirely past the array and must stay 0 (latent-caller
    # guard; current callers always have right <= size)
    valid = (right > left) & (left < size)
    if not valid.any() or size == 0:
        return out
    idx = np.empty(2 * left.size, dtype=np.int64)
    np.minimum(left, size - 1, out=idx[0::2], casting="unsafe")
    np.minimum(right, size - 1, out=idx[1::2], casting="unsafe")
    red = np.maximum.reduceat(values, idx)[0::2]
    tail = valid & (right >= size)
    if tail.any():
        red = np.where(tail, np.maximum(red, values[-1]), red)
    out[valid] = red[valid]
    return out


def _dense_topk(scores: np.ndarray, k: int) -> np.ndarray:
    """Exact top-k over a dense score array: indices of the k largest
    positive entries, (score desc, doc asc) order, ties at the k-th value
    broken by ascending doc id. O(n + k log k) — no full sort."""
    touched = np.flatnonzero(scores)  # ascending doc ids; BM25 scores are > 0
    vals = scores[touched]
    T = touched.size
    if T <= k:
        return touched[np.lexsort((touched, -vals))]
    kth = np.partition(vals, T - k)[T - k]
    above = np.flatnonzero(vals > kth)
    eq = np.flatnonzero(vals == kth)[: k - above.size]  # doc-asc ties
    idx = np.concatenate([above, eq])
    return touched[idx[np.lexsort((touched[idx], -vals[idx]))]]


def topk_rows(
    rows,
    idf_by_term: dict[str, float],
    avgdl: float,
    k: int,
    allowed_docs: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max WAND + MaxScore top-k over posting rows → (doc_ids, scores),
    tie-broken (score desc, doc_id asc).

    ``rows``: ``PostingRow`` records — any number of (term, salt) rows. A doc
    appears in exactly one salt per term (disjoint doc ranges), so the skip
    certificate holds row-by-row with one accumulator and one θ: the driver
    passes every salt (sharing θ prunes strictly more than per-slice
    kernels), an executor passes its slice.

    ``allowed_docs``: optional sorted int64 array — P2 filter semantics
    (restricts candidates, never contributes to score;
    BulkUpdateHandler.java:59 ``setIsFilter(true)``). Pruning STAYS on:
    decoded postings are intersected with ``allowed_docs`` before they reach
    the accumulator, so θ is the k-th best score over allowed docs only,
    while block upper bounds remain valid for any doc — the certificate is
    unchanged and the result equals exhaustive scoring over the filtered
    domain (pinned by test_index_engine.py::test_filtered_wand_prunes_exactly).
    """
    rows = sorted(rows, key=lambda r: (r.term, r.salt))
    if not rows:
        return _EMPTY
    # per-term max upper bound across its rows (sound: a doc sees one row/term)
    term_ub: dict[str, float] = {}
    rows_by_term: dict[str, list] = {}
    for row in rows:
        bb = _tfn(row.block_max_tf, row.block_min_dl, avgdl)
        ub = float(idf_by_term[row.term] * bb.max()) if len(bb) else 0.0
        term_ub[row.term] = max(term_ub.get(row.term, 0.0), ub)
        rows_by_term.setdefault(row.term, []).append(row)
    terms_sorted = sorted(term_ub, key=lambda t: (-idf_by_term[t], t))
    remaining_after = {}
    acc_ub = 0.0
    for t in reversed(terms_sorted):
        remaining_after[t] = acc_ub
        acc_ub += term_ub[t]

    def scored(parts, idf):
        """Decode ``parts`` → allowed (doc_ids, idf·tf_norm)."""
        d, tf, dl = decode_blocks_many(parts)
        if allowed_docs is not None:
            ok = _member(d, allowed_docs)
            d, tf, dl = d[ok], tf[ok], dl[ok]
        return d, idf * _tfn(tf, dl, avgdl)

    if len(terms_sorted) == 1:
        # single-term fast path: a doc's final score is exactly idf·tf_norm,
        # bounded above by its block bound — process blocks in DESCENDING
        # bound order and stop once the next bound can't beat the k-th score.
        # Exact (scores computed, never estimated); hot single-term queries
        # decode a handful of blocks instead of the full posting list.
        t = terms_sorted[0]
        idf = idf_by_term[t]
        blocks = []  # (bound, row_idx, block_idx)
        row_data = []
        for ri, row in enumerate(rows_by_term[t]):
            block_ub = idf * _tfn(row.block_max_tf, row.block_min_dl, avgdl)
            row_data.append(
                (row.payload, int(row.df_part), row.block_offset, _prev_lasts(row))
            )
            for bi, ub in enumerate(block_ub):
                blocks.append((float(ub), ri, bi))
        blocks.sort(key=lambda x: -x[0])  # stable: flat bounds keep file order
        # spiky-vs-flat dispatch: descending-bound early termination only pays
        # when a few blocks dominate (otherwise it fragments decode into
        # single blocks). Flat lists decode each row in ONE run + one global
        # top-k selection — bandwidth-bound, no per-block python.
        probe = min(len(blocks) - 1, max(8, 4 * ((k + BLOCK - 1) // BLOCK)))
        spiky = len(blocks) > 16 and blocks[0][0] > 1.02 * blocks[probe][0]
        if not spiky:
            # flat list: bulk-decode EVERY row in one call (contiguous-run
            # fast path inside decode_blocks_many) + one global selection
            docs1, scores1 = scored([
                (payload, n, block_offset, np.arange(len(block_offset)), prev_lasts)
                for payload, n, block_offset, prev_lasts in row_data
            ], idf)
            sel = np.lexsort((docs1, -scores1))[: min(k, docs1.size)]
            return docs1[sel], scores1[sel]
        # chunked descending-bound scan with a running top-k buffer:
        # merges are O(k + chunk) — never O(all decoded)
        CHUNK = 256
        top_d, top_s = _EMPTY
        theta1 = -np.inf
        for c0 in range(0, len(blocks), CHUNK):
            chunk = blocks[c0 : c0 + CHUNK]
            if np.isfinite(theta1) and top_d.size >= k and chunk[0][0] < theta1:
                break
            # group the chunk's blocks per row, decode ALL rows in one call
            by_row: dict[int, list[int]] = {}
            for _ub, ri, bi in chunk:
                by_row.setdefault(ri, []).append(bi)
            d, cs = scored([
                (*row_data[ri][:3], np.unique(np.asarray(bis)), row_data[ri][3])
                for ri, bis in by_row.items()
            ], idf)
            md = np.concatenate([top_d, d])
            ms = np.concatenate([top_s, cs])
            sel = np.lexsort((md, -ms))[: min(k, md.size)]
            top_d, top_s = md[sel], ms[sel]
            if top_d.size >= k:
                theta1 = top_s[-1]
        return top_d, top_s

    # DENSE accumulator (round 4): doc ids are dense by construction, so a
    # float64 array indexed by (doc_id - base) replaces the per-term
    # argsort-mergesort/add.reduceat merge (profiled ~35% of serving p50 at
    # 1M docs). It spans the rows' own doc range (min first_doc .. max
    # block_last) — one salt slice on an executor, never the whole id space
    # unless the query's terms span it. Per term: scores[d] += idf·tf_norm —
    # fancy-index += is exact because a doc appears at most once per term;
    # contributions add in the SAME term order as every other kernel. The
    # block certificate becomes maximum.reduceat over the dense array's
    # block ranges (zeros ≡ "no accumulated score", same semantics).
    #
    # MaxScore essential-terms cutoff (round 5): once θ STRICTLY exceeds
    # ub(t) + Σ ub(remaining terms), a doc touched by NO processed term has
    # final score ≤ that sum < θ ≤ true k-th score — it can't make top-k
    # under any tie-break. From that term on the kernel runs in LOOKUP mode:
    # only blocks containing an already-touched doc decode (hot tail terms
    # skip most of their blocks — decode bandwidth is the serving path's
    # measured binding cost), and adds land only on touched docs. Touched
    # docs receive every contribution in the same order, so returned scores
    # stay bit-identical to exhaustive (prune-only; pinned by the parity +
    # fuzz suites). This buys most of what impact-ordered postings would,
    # without re-encoding the doc-ordered delta layout or perturbing float
    # summation order.
    base = min(int(r.first_doc) for r in rows)
    scores = np.zeros(max(int(r.block_last[-1]) for r in rows) - base + 1)
    theta = -np.inf
    # sorted unique touched LOCAL (base-shifted) doc ids: θ refresh is
    # O(|touched|) over scores[touched], and lookup mode needs the id list
    touched = np.empty(0, dtype=np.int64)
    lookup = False

    for t in terms_sorted:
        idf = idf_by_term[t]
        rem = remaining_after[t]
        if not lookup and np.isfinite(theta) and theta > term_ub[t] + rem:
            lookup = True  # θ only grows, rem only shrinks — stays on
            KERNEL_STATS["lookup_on"] += 1
        # a doc appears in exactly one salt row of term t, so all of t's rows
        # decode against the SAME accumulator snapshot (their doc ranges are
        # disjoint — the certificate never sees a same-term update); the
        # certificate is evaluated per row BEFORE this term's adds land, and
        # all kept blocks of ALL rows decode in ONE decode_blocks_many call
        # (amortizes the decoder's per-call fixed costs across the salts)
        parts = []
        for row in rows_by_term[t]:
            prev_lasts = _prev_lasts(row)
            lo_doc, hi_doc = prev_lasts + 1 - base, row.block_last - base
            if np.isfinite(theta):
                block_ub = idf * _tfn(row.block_max_tf, row.block_min_dl, avgdl)
                max_acc = _range_max(scores, lo_doc, hi_doc + 1)
                keep = max_acc + block_ub + rem >= theta
            else:
                keep = np.ones(len(prev_lasts), dtype=bool)
            if lookup:
                # only blocks holding ≥1 touched doc can contribute
                lo = np.searchsorted(touched, lo_doc, side="left")
                hi = np.searchsorted(touched, hi_doc, side="right")
                keep &= hi > lo
            kept = np.flatnonzero(keep)
            if kept.size:
                parts.append((row.payload, int(row.df_part), row.block_offset,
                              kept, prev_lasts))
        if parts:
            d, nc = scored(parts, idf)
            d = d - base
            if lookup:
                ok = _member(d, touched)
                scores[d[ok]] += nc[ok]
            else:
                scores[d] += nc  # unique indices within a term: exact
                # d is ascending (salt rows ascend, blocks ascend) and
                # unique within the term — one merge keeps `touched`
                # sorted-unique
                touched = d if touched.size == 0 else np.union1d(touched, d)
        if touched.size >= k:
            tv = scores[touched]
            theta = np.partition(tv, tv.size - k)[tv.size - k]

    sel = _dense_topk(scores, k)
    return sel + base, scores[sel]


def topk_slice_batch(
    rows,
    plans: list[tuple[int, dict[str, float], int]],
    avgdl: float,
    allowed_docs: np.ndarray | None = None,
) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """Many-queries-one-slice kernel: decode every candidate row ONCE, then
    score all queries from the decoded arrays. A Zipf-hot term shared by most
    of the batch decodes once instead of once per query — decode is the batch
    path's dominant cost.

    ``rows``: one salt slice's ``PostingRow`` records (one row per term).
    Accumulation is EXHAUSTIVE with the same BM25 arithmetic and the same
    ``(-idf, term)`` summation order as :func:`topk_rows`, and WAND is
    prune-exact, so per-query results are score-identical (exact ``==``) to
    :func:`topk_rows` on the same slice — this kernel is the exhaustive
    reference the WAND tests compare against. Returns
    [(query_id, doc_ids, scores)] for queries with ≥1 live term.

    ``allowed_docs``: optional sorted int64 array — P2 filter semantics
    shared by the WHOLE batch (restricts candidates, never contributes to
    score). The intersection happens ONCE per decoded term, not per query —
    the filtered offline-eval shape (pinned by
    test_search_batch_filtered_rank_identical).
    """
    decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for row in rows:
        d, tf, dl = decode_run(
            row.payload, int(row.df_part), row.block_offset, 0,
            len(row.block_offset), 0,
        )
        if allowed_docs is not None:
            ok = _member(d, allowed_docs)
            d, tf, dl = d[ok], tf[ok], dl[ok]
        decoded[row.term] = (d, _tfn(tf, dl, avgdl))

    # dense per-query accumulator over the slice's doc range (round 4): a
    # base-shifted float64 array replaces the per-term argsort-mergesort
    # merge. The span is one salt slice (~n_docs/num_salts), so the array is
    # small and the per-query alloc trivial next to the shared decode above.
    live = [d for d, _ in decoded.values() if d.size]
    out = []
    if not live:
        return out
    base = min(int(d[0]) for d in live)
    span = max(int(d[-1]) for d in live) - base + 1
    # pre-shift doc ids once per term (shared across the whole batch)
    dloc_by_term = {t: d - base for t, (d, _) in decoded.items() if d.size}
    for qid, idf_by_term, k in plans:
        terms = sorted(
            (t for t in idf_by_term if t in dloc_by_term),
            key=lambda t: (-idf_by_term[t], t),
        )
        if not terms:
            continue
        # Deliberately EXHAUSTIVE — no MaxScore here. The decode above is
        # shared across the batch, so the per-query marginal cost is just
        # the vectorized scatter-add (~1-2 ops/posting, memory-bound). A
        # round-5 experiment added the same θ-cutoff the serving kernel
        # uses; at 1M docs (15.6k-doc slices) the per-term O(span)
        # ``scores > 0`` θ refresh DOUBLED the measured marginal cost
        # (5.84 → 12.5 ms/query, BENCH/SERVING_PROBE_run3 vs the r5 rerun)
        # because there is no decode left to skip — MaxScore only pays when
        # it gates decode (topk_rows, where it stays).
        scores = np.zeros(span, dtype=np.float64)
        for t in terms:
            scores[dloc_by_term[t]] += idf_by_term[t] * decoded[t][1]  # unique per term: exact
        sel = _dense_topk(scores, k)
        out.append((qid, sel + base, scores[sel]))
    return out
