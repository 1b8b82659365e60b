"""Posting-list codec: delta + VByte, 128-posting blocks, block-max metadata.

The reference stores postings inside Lucene segments (delta+VInt with skip
lists — public Lucene format knowledge); we re-implement the same ideas
numpy-vectorized so encode/decode run over whole Arrow batches with no
per-row Python (BASELINE.json input_hint requirement).

Frozen layout (SURVEY.md §7.0) per term::

    payload  = concat over blocks of [vbyte(doc_deltas) vbyte(tfs) vbyte(dls)]
    block i  covers postings [128*i, min(128*(i+1), n))
    doc_deltas[0] of block i is relative to block i-1's last doc
    (absolute for block 0) — so a block is decodable knowing only the
    previous block's last_doc, which lives in the metadata arrays.

Per-term metadata columns (enable block skipping WITHOUT decoding):
    block_offset : int32[]  byte offset of each block in payload
    block_last   : int64[]  last doc_id of each block
    block_max_tf : int32[]  max tf within block
    block_min_dl : int32[]  min dl within block

Decode: one private core (``_varint_spans`` terminator scan, ``_varints``
byte loop, ``_restart_cumsum`` run-restarting prefix sums, ``_decode``
de-interleave) under every production decoder — ``decode_many`` (merge: one
run per row), ``decode_blocks_many`` (every query kernel: one run per
selected block), ``decode_positions_run`` (one run per posting) and
``position_layout_from_bytes`` (spans only). ``vbyte_decode``,
``decode_block`` and ``decode_postings`` are the scalar reference.

Block-max score bound (WAND): tf_norm is increasing in tf and decreasing in
dl, so  idf * max_tf/(max_tf + k1*(1-b+b*min_dl/avgdl))  upper-bounds every
posting in the block — prune-only, never changes scores (rank-identical
guarantee).
"""

from __future__ import annotations

import numpy as np

BLOCK = 128


def vbyte_encode(values: np.ndarray) -> np.ndarray:
    """LEB128-style varint encode (little-endian 7-bit groups, msb=continuation).

    Fully vectorized: O(max_bytes) numpy passes, no Python per-value loop.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8)
    nbytes = np.ones(v.size, dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nbytes += (x > 0).astype(np.int64)
        x >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8)
        out[starts[mask] + j] = byte | (cont << 7)
    return out


def vbyte_decode(buf: np.ndarray, n: int, offset: int = 0) -> tuple[np.ndarray, int]:
    """Decode ``n`` varints from ``buf`` starting at ``offset``.

    Returns (values uint64, next_offset). Vectorized over terminator bytes.
    """
    if n == 0:
        return np.empty(0, dtype=np.uint64), offset
    # bound the terminator scan: n varints occupy ≤ 10n bytes — without this
    # the nonzero() scans the entire remaining payload per call (measured 85%
    # of query time)
    b = buf[offset : offset + 10 * n]
    term_pos = np.nonzero((b & 0x80) == 0)[0]
    ends = term_pos[:n]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * j
        )
    return vals, offset + int(ends[-1]) + 1


class EncodedPostings:
    """Encoded form of one term's posting list (plain struct-of-arrays)."""

    __slots__ = ("n", "payload", "block_offset", "block_last", "block_max_tf", "block_min_dl")

    def __init__(self, n, payload, block_offset, block_last, block_max_tf, block_min_dl):
        self.n = n
        self.payload = payload
        self.block_offset = block_offset
        self.block_last = block_last
        self.block_max_tf = block_max_tf
        self.block_min_dl = block_min_dl


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> EncodedPostings:
    """Encode one term's postings. ``doc_ids`` must be sorted strictly ascending."""
    n = int(doc_ids.size)
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    n_blocks = (n + BLOCK - 1) // BLOCK
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0:1] = doc_ids[0:1].astype(np.uint64)
    deltas[1:] = np.diff(doc_ids).astype(np.uint64)
    # block-initial deltas must be relative to previous block's last doc —
    # which diff already gives; block 0's first delta is the absolute id. ✔
    chunks: list[np.ndarray] = []
    block_offset = np.zeros(n_blocks, dtype=np.int32)
    block_last = np.zeros(n_blocks, dtype=np.int64)
    block_max_tf = np.zeros(n_blocks, dtype=np.int32)
    block_min_dl = np.zeros(n_blocks, dtype=np.int32)
    pos = 0
    for i in range(n_blocks):
        lo, hi = i * BLOCK, min((i + 1) * BLOCK, n)
        enc = np.concatenate(
            [
                vbyte_encode(deltas[lo:hi]),
                vbyte_encode(tfs[lo:hi].astype(np.uint64)),
                vbyte_encode(dls[lo:hi].astype(np.uint64)),
            ]
        )
        block_offset[i] = pos
        block_last[i] = doc_ids[hi - 1]
        block_max_tf[i] = tfs[lo:hi].max()
        block_min_dl[i] = dls[lo:hi].min()
        chunks.append(enc)
        pos += enc.size
    payload = np.concatenate(chunks) if chunks else np.empty(0, dtype=np.uint8)
    return EncodedPostings(n, payload, block_offset, block_last, block_max_tf, block_min_dl)


def decode_block(
    payload: np.ndarray, n: int, block_idx: int, block_offset: np.ndarray, prev_last: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a single block → (doc_ids, tfs, dls). ``prev_last`` = last doc of
    the previous block (0 base for block 0; block 0's first delta is absolute)."""
    lo = block_idx * BLOCK
    cnt = min(BLOCK, n - lo)
    off = int(block_offset[block_idx])
    deltas, off = vbyte_decode(payload, cnt, off)
    tfs, off = vbyte_decode(payload, cnt, off)
    dls, _ = vbyte_decode(payload, cnt, off)
    docs = np.cumsum(deltas.astype(np.int64)) + (prev_last if block_idx > 0 else 0)
    return docs, tfs.astype(np.int64), dls.astype(np.int64)


# --------------------------------------------------------------------------
# multi-term vectorized codec — the build/merge and query hot paths.
#
# encode_many/decode_many process EVERY term of a segment (or every row of a
# merge group) in one numpy pass: no per-term Python loop, no pandas
# groupby-iterate (measured ~150μs/group — the difference between 975 and
# several-thousand docs/s at build). Byte layout is IDENTICAL to
# encode_postings/decode_postings (pinned by tests).
#
# Every decoder is an assembler over ONE decode core (below encode_many):
# _varint_spans (the terminator scan), _varints (the byte loop),
# _restart_cumsum (prefix sums restarting per run, each on its base) and
# _decode (the [deltas][tfs][dls] de-interleave). Run shapes: decode_many one
# run per row, base 0; decode_blocks_many one run per selected block, based
# on the previous block's last doc; decode_positions_run one run per
# posting, base 0; position_layout_from_bytes only the spans.
# --------------------------------------------------------------------------


def _byte_lengths(v: np.ndarray) -> np.ndarray:
    nbytes = np.ones(v.size, dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nbytes += (x > 0).astype(np.int64)
        x >>= np.uint64(7)
    return nbytes


def _scatter_varints(out: np.ndarray, offsets: np.ndarray, vals: np.ndarray,
                     lens: np.ndarray) -> None:
    for j in range(int(lens.max()) if lens.size else 0):
        m = lens > j
        byte = ((vals[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (lens[m] - 1 > j).astype(np.uint8)
        out[offsets[m] + j] = byte | (cont << 7)


class EncodedMany:
    """Encoded postings for T terms (struct-of-arrays; one payload buffer)."""

    __slots__ = ("payload", "term_byte_start", "term_byte_end", "n_per_term",
                 "block_offset", "block_last", "block_max_tf", "block_min_dl",
                 "blocks_per_term")

    def __init__(self, **kw):
        for k, v in kw.items():
            setattr(self, k, v)

    def row(self, t: int) -> dict:
        """Materialize term t's columns (payload bytes + metadata lists)."""
        lo, hi = self.term_byte_start[t], self.term_byte_end[t]
        b0, b1 = self.blocks_per_term[t], self.blocks_per_term[t + 1]
        return {
            "n": int(self.n_per_term[t]),
            "payload": self.payload[lo:hi].tobytes(),
            "block_offset": self.block_offset[b0:b1].tolist(),
            "block_last": self.block_last[b0:b1].tolist(),
            "block_max_tf": self.block_max_tf[b0:b1].tolist(),
            "block_min_dl": self.block_min_dl[b0:b1].tolist(),
        }


def encode_many(
    term_counts: np.ndarray, docs: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> EncodedMany:
    """Encode T terms' postings in one pass.

    ``term_counts``: postings per term, in output term order; ``docs`` must be
    sorted ascending WITHIN each term; arrays are the term-order concatenation.
    """
    M = int(docs.size)
    T = int(term_counts.size)
    docs = np.ascontiguousarray(docs, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    term_starts = np.zeros(T, dtype=np.int64)
    np.cumsum(term_counts[:-1], out=term_starts[1:])

    # deltas: plain diff everywhere, absolute at term starts
    d = np.empty(M, dtype=np.int64)
    d[0] = docs[0]
    d[1:] = docs[1:] - docs[:-1]
    d[term_starts] = docs[term_starts]
    d = d.astype(np.uint64)

    pos_in_term = np.arange(M, dtype=np.int64) - np.repeat(term_starts, term_counts)
    # (term, block) group starts: every 128th posting within a term
    flags = (pos_in_term & (BLOCK - 1)) == 0
    group_starts = np.flatnonzero(flags)
    G = group_starts.size
    group_counts = np.diff(np.append(group_starts, M))
    tb_id = np.cumsum(flags) - 1  # group index per posting

    Ld = _byte_lengths(d)
    Lt = _byte_lengths(tfs)
    Ll = _byte_lengths(dls)
    sum_d = np.add.reduceat(Ld, group_starts)
    sum_t = np.add.reduceat(Lt, group_starts)
    sum_l = np.add.reduceat(Ll, group_starts)

    chunk_sizes = np.empty(3 * G, dtype=np.int64)
    chunk_sizes[0::3] = sum_d
    chunk_sizes[1::3] = sum_t
    chunk_sizes[2::3] = sum_l
    chunk_offsets = np.zeros(3 * G, dtype=np.int64)
    np.cumsum(chunk_sizes[:-1], out=chunk_offsets[1:])
    total_bytes = int(chunk_sizes.sum())

    def _excl_prefix(L):
        cs = np.cumsum(L)
        base = np.repeat(cs[group_starts] - L[group_starts], group_counts)
        return (cs - L) - base

    out = np.zeros(total_bytes, dtype=np.uint8)
    _scatter_varints(out, chunk_offsets[3 * tb_id] + _excl_prefix(Ld), d, Ld)
    _scatter_varints(out, chunk_offsets[3 * tb_id + 1] + _excl_prefix(Lt), tfs, Lt)
    _scatter_varints(out, chunk_offsets[3 * tb_id + 2] + _excl_prefix(Ll), dls, Ll)

    # per-term / per-block metadata
    blocks_per_term_counts = (term_counts + BLOCK - 1) // BLOCK
    blocks_per_term = np.zeros(T + 1, dtype=np.int64)
    np.cumsum(blocks_per_term_counts, out=blocks_per_term[1:])
    group_ends = np.append(group_starts[1:], M) - 1
    block_last = docs[group_ends]
    block_max_tf = np.maximum.reduceat(tfs, group_starts).astype(np.int64)
    block_min_dl = np.minimum.reduceat(dls, group_starts).astype(np.int64)
    # byte start of each term = offset of its first group's delta chunk
    first_group_of_term = blocks_per_term[:-1]
    term_byte_start = chunk_offsets[3 * first_group_of_term]
    term_byte_end = np.append(term_byte_start[1:], total_bytes)
    block_offset = (chunk_offsets[0::3] - np.repeat(term_byte_start, blocks_per_term_counts)).astype(np.int32)

    return EncodedMany(
        payload=out,
        term_byte_start=term_byte_start,
        term_byte_end=term_byte_end,
        n_per_term=term_counts.astype(np.int64),
        block_offset=block_offset,
        block_last=block_last,
        block_max_tf=block_max_tf.astype(np.int32),
        block_min_dl=block_min_dl.astype(np.int32),
        blocks_per_term=blocks_per_term,
    )


def _varint_spans(buf: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Start offset and byte length of each of the first ``n`` varints of
    ``buf`` (one scan for terminator bytes, msb clear)."""
    ends = np.flatnonzero((buf & 0x80) == 0)[:n]
    starts = np.empty(n, dtype=np.int64)
    starts[:1] = 0
    starts[1:] = ends[:-1] + 1
    return starts, ends - starts + 1


def _varints(buf: np.ndarray, n: int) -> np.ndarray:
    """The first ``n`` varints of ``buf`` as uint64: one masked pass per
    byte position (byte 0 of every varint in one unmasked pass)."""
    starts, lengths = _varint_spans(buf, n)
    # explicit astype: uint8 & uint8-scalar stays uint8, and the << would wrap
    vals = (buf[starts] & np.uint8(0x7F)).astype(np.uint64)
    for j in range(1, int(lengths.max(initial=0))):
        m = np.flatnonzero(lengths > j)
        vals[m] |= (buf[starts[m] + j] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return vals


def _restart_cumsum(deltas: np.ndarray, counts: np.ndarray, base) -> np.ndarray:
    """int64 prefix sums of ``deltas`` restarting at every run of
    ``counts`` values, run i offset by ``base[i]`` (or a scalar base)."""
    d = deltas.astype(np.int64)
    cs = np.cumsum(d)
    run_starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=run_starts[1:])
    return cs + np.repeat(base - (cs[run_starts] - d[run_starts]), counts)


def _decode(seg: np.ndarray, counts: np.ndarray, run_counts: np.ndarray,
            run_base) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Blocks of ``counts`` postings laid out back to back in ``seg`` →
    (docs, tfs, dls) int64. Block b is ``[c deltas][c tfs][c dls]``, so the
    delta of its posting p sits at value ``2·P_b + p`` (``P_b`` = postings
    before block b, ``p`` counted over all blocks), its tf ``c_b`` later and
    its dl ``2·c_b`` later. Doc ids are the delta prefix sums, restarted at
    every run of ``run_counts`` postings on that run's ``run_base``."""
    total = int(counts.sum())
    vals = _varints(seg, 3 * total)
    before = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=before[1:])
    at = np.repeat(2 * before, counts) + np.arange(total)
    c = np.repeat(counts, counts)
    docs = _restart_cumsum(vals[at], run_counts, run_base)
    return docs, vals[at + c].astype(np.int64), vals[at + 2 * c].astype(np.int64)


def decode_many(
    payloads: list[bytes] | np.ndarray, ns: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode many rows' postings in one pass → concatenated (docs, tfs, dls).

    Each row's payload is the standard layout; rows are independent (their
    output is concatenated in input order): one run per row, base 0 (a
    block-initial delta is a plain diff, so one cumsum spans the row)."""
    ns = np.asarray(ns, dtype=np.int64)
    if ns.size == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    buf = np.frombuffer(b"".join(bytes(p) for p in payloads), dtype=np.uint8)
    blocks = (ns + BLOCK - 1) // BLOCK
    first = np.zeros(ns.size, dtype=np.int64)
    np.cumsum(blocks[:-1], out=first[1:])
    in_row = np.arange(int(blocks.sum())) - np.repeat(first, blocks)
    counts = np.minimum(np.repeat(ns, blocks) - in_row * BLOCK, BLOCK)
    return _decode(buf, counts, ns, 0)


# decode working-set budget (posting values per vectorized pass): the varint
# scan makes ~10 array passes over 3*total uint64/int64 temporaries; keeping
# them L2-resident beats one giant pass (measured at 1M docs: unbounded
# batching STREAMED ~12 MB temporaries from DRAM and doubled decode time —
# 7.8 s -> 16.8 s across the query set — while 16k-doc chunks keep the
# amortization AND the locality)
_DECODE_CHUNK_DOCS = 16384


def decode_blocks_many(
    parts: list,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode block sets of MANY rows in cache-sized vectorized passes.

    ``parts``: list of ``(payload, n, block_offset, selected, prev_lasts)``
    per row — ``selected``: sorted block indices; ``prev_lasts``: per block
    index, the last doc of the block before it (ignored for block 0, whose
    first delta is absolute). Every query kernel decodes through here: one
    call per term (WAND, conjunctions) or per slice (batch kernel, id sets).
    The decode core's per-CALL fixed costs (allocations + one numpy pass per
    varint byte) amortize over the grouped rows, while the
    ``_DECODE_CHUNK_DOCS`` budget keeps each pass's temporaries
    cache-resident (see above). Output: the selected blocks' postings,
    concatenated in the caller's row order (ascending doc ranges); one run
    per block, based on its ``prev_lasts`` entry."""
    if len(parts) > 1:
        groups, cur, cur_docs = [], [], 0
        for part in parts:
            n_sel = len(part[3])
            part_docs = min(part[1], n_sel * BLOCK)  # ≤ docs in selected blocks
            if cur and cur_docs + part_docs > _DECODE_CHUNK_DOCS:
                groups.append(cur)
                cur, cur_docs = [], 0
            cur.append(part)
            cur_docs += part_docs
        groups.append(cur)
        if len(groups) > 1:
            outs = [decode_blocks_many(g) for g in groups]
            return (np.concatenate([o[0] for o in outs]),
                    np.concatenate([o[1] for o in outs]),
                    np.concatenate([o[2] for o in outs]))
    counts_l, bases_l, segs = [], [], []
    for payload, n, block_offset, selected, prev_lasts in parts:
        selected = np.asarray(selected, dtype=np.int64)
        nb_total = len(block_offset)
        starts_b = block_offset[selected].astype(np.int64)
        ends_b = np.where(
            selected + 1 < nb_total,
            block_offset[np.minimum(selected + 1, nb_total - 1)].astype(np.int64),
            payload.size,
        )
        counts_l.append(np.minimum(n - selected * BLOCK, BLOCK))
        # per-block doc base: prev block's last (block 0's delta is absolute)
        bases_l.append(np.where(selected > 0, prev_lasts[selected], 0))
        if selected.size and selected[-1] - selected[0] + 1 == selected.size:
            # contiguous run (sorted indices): one slice, no per-block gather
            segs.append(payload[int(starts_b[0]):int(ends_b[-1])])
        else:
            segs.extend(payload[s:e] for s, e in zip(starts_b, ends_b))
    counts = counts_l[0] if len(counts_l) == 1 else np.concatenate(counts_l)
    block_base = bases_l[0] if len(bases_l) == 1 else np.concatenate(bases_l)
    seg = segs[0] if len(segs) == 1 else np.concatenate(segs)
    return _decode(seg, counts, counts, block_base)


# --------------------------------------------------------------------------
# positional sidecar (round 6, VERDICT r5 #1) — an OPTIONAL third stream.
#
# Layout per term (mirrors the main payload's 128-posting block geometry)::
#
#     pos_payload      = concat over postings of vbyte(position_deltas)
#     position_deltas  = absolute first position, then diffs (per posting —
#                        every posting's stream is self-contained, so merging
#                        segments is pure byte concatenation in posting order)
#     pos_block_offset = int32[] byte offset of block i's first posting's
#                        positions (same blocks as block_offset)
#
# The number of varints per posting equals its tf (already in the main
# stream), so decode needs no extra counts. Phrase queries decode ONLY the
# blocks their candidate set touches (same needed_block_runs certificate as
# the conjunction kernel) instead of re-analyzing candidate documents.
# --------------------------------------------------------------------------


class EncodedPositions:
    """Encoded position streams for T terms (struct-of-arrays)."""

    __slots__ = ("payload", "term_byte_start", "term_byte_end",
                 "block_offset", "blocks_per_term")

    def __init__(self, **kw):
        for k, v in kw.items():
            setattr(self, k, v)


def _position_layout(
    byte_len_per_value: np.ndarray, tf_all: np.ndarray, term_counts: np.ndarray
) -> EncodedPositions:
    """Shared layout math: per-(term, block) byte offsets for a flat
    positions stream whose posting p holds ``tf_all[p]`` varints of the
    given byte lengths. Returns an :class:`EncodedPositions` with payload
    left ``None`` (filled by the encoder / sliced by the merge)."""
    P = int(tf_all.size)
    T = int(term_counts.size)
    term_starts = np.zeros(T, dtype=np.int64)
    np.cumsum(term_counts[:-1], out=term_starts[1:])
    pos_in_term = np.arange(P, dtype=np.int64) - np.repeat(term_starts, term_counts)
    flags = (pos_in_term & (BLOCK - 1)) == 0
    group_start_postings = np.flatnonzero(flags)  # posting idx of each block
    # first VALUE index of each block = exclusive prefix of tf at its posting
    val_start_per_posting = np.zeros(P, dtype=np.int64)
    np.cumsum(tf_all[:-1], out=val_start_per_posting[1:])
    group_val_starts = val_start_per_posting[group_start_postings]
    byte_cum = np.cumsum(byte_len_per_value)
    total_bytes = int(byte_cum[-1]) if byte_len_per_value.size else 0
    # byte offset of each block = bytes before its first value
    group_byte_offsets = np.where(
        group_val_starts > 0, byte_cum[group_val_starts - 1], 0
    )
    blocks_per_term_counts = (term_counts + BLOCK - 1) // BLOCK
    blocks_per_term = np.zeros(T + 1, dtype=np.int64)
    np.cumsum(blocks_per_term_counts, out=blocks_per_term[1:])
    term_byte_start = group_byte_offsets[blocks_per_term[:-1]]
    term_byte_end = np.append(term_byte_start[1:], total_bytes)
    block_offset = (
        group_byte_offsets
        - np.repeat(term_byte_start, blocks_per_term_counts)
    ).astype(np.int32)
    return EncodedPositions(
        payload=None,
        term_byte_start=term_byte_start.astype(np.int64),
        term_byte_end=term_byte_end.astype(np.int64),
        block_offset=block_offset,
        blocks_per_term=blocks_per_term,
    )


def encode_positions_many(
    term_counts: np.ndarray, tf_all: np.ndarray, pos_deltas: np.ndarray
) -> EncodedPositions:
    """Encode T terms' position streams in one vectorized pass.

    ``term_counts``: postings per term (term order); ``tf_all``: positions per
    posting (posting order); ``pos_deltas``: flat position deltas (first of
    each posting absolute, then diffs), uint64, value order = posting order.
    """
    d = np.ascontiguousarray(pos_deltas, dtype=np.uint64)
    L = _byte_lengths(d) if d.size else np.empty(0, dtype=np.int64)
    enc = _position_layout(L, np.asarray(tf_all, dtype=np.int64),
                           np.asarray(term_counts, dtype=np.int64))
    total_bytes = int(L.sum())
    out = np.zeros(total_bytes, dtype=np.uint8)
    starts = np.cumsum(L) - L
    _scatter_varints(out, starts, d, L)
    enc.payload = out
    return enc


def position_layout_from_bytes(
    buf: np.ndarray, tf_all: np.ndarray, term_counts: np.ndarray
) -> EncodedPositions:
    """Recompute the (term, block) byte layout of an EXISTING flat positions
    buffer (e.g. the segment-order concatenation the merge produces) without
    decoding any values: one varint-terminator scan gives every value's byte
    length, and the block geometry follows from (tf_all, term_counts) exactly
    as in :func:`encode_positions_many`. ``payload`` is set to ``buf``."""
    tf_all = np.asarray(tf_all, dtype=np.int64)
    _, L = _varint_spans(buf, int(tf_all.sum()))
    enc = _position_layout(L, tf_all, np.asarray(term_counts, dtype=np.int64))
    enc.payload = buf
    return enc


def decode_positions_run(
    pos_payload: np.ndarray,
    pos_block_offset: np.ndarray,
    i0: int,
    i1: int,
    tfs: np.ndarray,
) -> np.ndarray:
    """Decode the positions of blocks [i0, i1) of one term → flat int64
    positions (caller segments by ``tfs``, the decoded tf array of exactly
    those blocks' postings): one run per posting, base 0 (each posting's
    first position delta is absolute)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    byte_start = int(pos_block_offset[i0])
    byte_end = (
        int(pos_block_offset[i1]) if i1 < len(pos_block_offset)
        else pos_payload.size
    )
    seg = pos_payload[byte_start:byte_end]
    return _restart_cumsum(_varints(seg, total), tfs, 0)


def decode_postings(enc_n: int, payload: np.ndarray, block_offset: np.ndarray,
                    block_last: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the full posting list → (doc_ids, tfs, dls)."""
    n_blocks = len(block_offset)
    docs = np.empty(enc_n, dtype=np.int64)
    tfs = np.empty(enc_n, dtype=np.int64)
    dls = np.empty(enc_n, dtype=np.int64)
    for i in range(n_blocks):
        lo = i * BLOCK
        prev_last = int(block_last[i - 1]) if i > 0 else 0
        d, t, l = decode_block(payload, enc_n, i, block_offset, prev_last)
        docs[lo : lo + d.size] = d
        tfs[lo : lo + d.size] = t
        dls[lo : lo + d.size] = l
    return docs, tfs, dls
