"""Posting rows from Arrow — the one adapter between pyarrow tables and the
query kernels.

The driver masks its candidate rows out of the reader's resident bucket
tables (``IndexReader._local_rows``, under ``search_local``,
``search_conj_local`` and ``scored_local``); executors receive one salt
slice per ``applyInArrow`` group. Both hand the table to
:func:`rows_from_arrow`, so every kernel in ``query/`` sees the same
:class:`PostingRow` records with the same dtypes, and kernel results go
back to Spark as ``pa.table``s.
Round-2 profiling measured the pandas conversion + per-row traversal at
~45% of serving latency, more than the decode kernel itself.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from solrutils_spark.index.codec import decode_run


# the index columns the scoring kernels read (the positional sidecar is
# read only by phrase queries)
POSTING_COLUMNS = ["term", "salt", "df_part", "first_doc", "payload",
                   "block_offset", "block_last", "block_max_tf", "block_min_dl"]


class PostingRow:
    """One (term, salt) posting row. ``payload``/``pos_payload`` are uint8
    views; the ``pos_*`` sidecar attributes exist only when the table
    carries them (phrase reads)."""

    __slots__ = ("term", "salt", "df_part", "first_doc", "payload",
                 "block_offset", "block_last", "block_max_tf", "block_min_dl",
                 "pos_payload", "pos_block_offset")


def _list_col_views(arr) -> list[np.ndarray]:
    """pyarrow ListArray → per-row numpy views (zero-copy; no python lists).

    At 1M+ docs a hot term's block arrays hold thousands of entries —
    ``to_pydict`` boxes every element into a Python object (measured: serving
    p50 633→883 ms at 1M), while offset-sliced views cost O(rows). A sliced
    array's ``offsets`` already index into its unsliced ``values``."""
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    vals = arr.values.to_numpy(zero_copy_only=False)
    return [vals[offs[i] : offs[i + 1]] for i in range(len(arr))]


def rows_from_arrow(tbl: pa.Table) -> list[PostingRow]:
    """pyarrow Table of index rows → :class:`PostingRow` records."""
    n = tbl.num_rows
    if n == 0:
        return []
    tbl = tbl.combine_chunks()
    col = lambda name: tbl.column(name).chunk(0)  # noqa: E731
    terms = tbl.column("term").to_pylist()
    salts = tbl.column("salt").to_pylist()
    df_parts = tbl.column("df_part").to_numpy()
    first_docs = tbl.column("first_doc").to_numpy()
    payloads = tbl.column("payload").to_pylist()
    offs = _list_col_views(col("block_offset"))
    lasts = _list_col_views(col("block_last"))
    mtfs = _list_col_views(col("block_max_tf"))
    mdls = _list_col_views(col("block_min_dl"))
    with_pos = "pos_payload" in tbl.column_names
    if with_pos:
        pos_payloads = tbl.column("pos_payload").to_pylist()
        pos_offs = _list_col_views(col("pos_block_offset"))
    out = []
    for i in range(n):
        r = PostingRow()
        r.term = terms[i]
        r.salt = salts[i]
        r.df_part = df_parts[i]
        r.first_doc = first_docs[i]
        r.payload = np.frombuffer(payloads[i], dtype=np.uint8)
        r.block_offset = offs[i].astype(np.int32, copy=False)
        r.block_last = lasts[i].astype(np.int64, copy=False)
        r.block_max_tf = mtfs[i].astype(np.int64, copy=False)
        r.block_min_dl = mdls[i].astype(np.int64, copy=False)
        if with_pos:
            r.pos_payload = np.frombuffer(pos_payloads[i], dtype=np.uint8)
            r.pos_block_offset = pos_offs[i].astype(np.int64, copy=False)
        out.append(r)
    return out


def slice_doc_ids(rows) -> np.ndarray:
    """Sorted unique doc ids of every posting in ``rows`` (full decode)."""
    ids = [
        decode_run(r.payload, int(r.df_part), r.block_offset, 0,
                   len(r.block_offset), 0)[0]
        for r in rows
    ]
    return np.unique(np.concatenate(ids)) if ids else np.empty(0, np.int64)


# the kernel output schemas of every grouped stage in ``query/``: one row per
# (doc, score), and per (query, doc, score) for the batch kernels
TOPK_DDL = "doc_id long, score double"
BATCH_DDL = "query_id long, doc_id long, score double"


def topk_table(doc_ids: np.ndarray, scores: np.ndarray) -> pa.Table:
    """Kernel output :data:`TOPK_DDL` for ``applyInArrow``."""
    return pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                     "score": pa.array(scores, pa.float64())})


def batch_table(results) -> pa.Table:
    """``[(query_id, doc_ids, scores)]`` → ONE :data:`BATCH_DDL` table per
    slice from concatenated numpy arrays (a per-query frame + concat costs
    ~20-50 µs × |queries| × slices per job)."""
    live = [(qid, d, s) for qid, d, s in results if d.size] or [
        (0, np.empty(0, np.int64), np.empty(0, np.float64))]
    qids = np.concatenate([np.full(d.size, qid, np.int64) for qid, d, _ in live])
    tbl = topk_table(np.concatenate([d for _, d, _ in live]),
                     np.concatenate([s for _, _, s in live]))
    return tbl.add_column(0, "query_id", pa.array(qids, pa.int64()))
