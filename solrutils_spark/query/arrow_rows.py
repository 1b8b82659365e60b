"""Posting rows from Arrow — the one adapter between pyarrow tables and the
query kernels, in two steps.

:class:`PostingView` is built once per table: numpy views of its Arrow
buffers (an int32 list column the kernels read as int64 is converted once)
and a term → row-index map. :meth:`PostingView.rows` builds :class:`PostingRow`
records from it by slicing, with no Arrow call. :func:`rows_from_arrow` is
"every row of the view". Executors adapt one salt slice per
``applyInArrow`` group that way; the driver keeps one view per resident
index bucket (``IndexReader._local_rows``, under ``search_local``,
``search_conj_local`` and ``scored_local``) and looks a query's rows up by
term, so a warm driver query does no Arrow work at all. Every kernel in
``query/`` sees the same :class:`PostingRow` records with the same dtypes,
and kernel results go back to Spark as ``pa.table``s.
Round-2 profiling measured the pandas conversion + per-row traversal at
~45% of serving latency, more than the decode kernel itself.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa

from solrutils_spark.index.codec import decode_blocks_many


# the index columns the scoring kernels read (the positional sidecar is
# read only by phrase queries)
POSTING_COLUMNS = ["term", "salt", "df_part", "first_doc", "payload",
                   "block_offset", "block_last", "block_max_tf", "block_min_dl"]

# the variable-length columns a row slices, with the dtype the kernels read
# them as (a binary column slices as uint8)
_SLICED = {"payload": np.uint8, "block_offset": np.int32,
           "block_last": np.int64, "block_max_tf": np.int64,
           "block_min_dl": np.int64}
_SLICED_POS = {"pos_payload": np.uint8, "pos_block_offset": np.int64}

# what one held numpy array costs besides its data: the array object, the
# Arrow object a zero-copy view keeps alive, and the 64-byte buffer padding
_ARRAY_OVERHEAD = 512


class PostingRow:
    """One (term, salt) posting row. ``payload``/``pos_payload`` are uint8
    views; the ``pos_*`` sidecar attributes exist only when the table
    carries them (phrase reads)."""

    __slots__ = ("term", "salt", "df_part", "first_doc", "payload",
                 "block_offset", "block_last", "block_max_tf", "block_min_dl",
                 "pos_payload", "pos_block_offset")


def _sliced_column(arr, dtype) -> tuple[np.ndarray, np.ndarray]:
    """A binary or list column → (per-row offsets, flat values as
    ``dtype``); row i is ``values[offsets[i]:offsets[i + 1]]``.

    Zero-copy where the stored type already is ``dtype`` (a values array
    converted once otherwise), never a Python object per element: at 1M+
    docs a hot term's block arrays hold thousands of entries, and boxing
    them (``to_pydict``) took serving p50 633 → 883 ms. A sliced array's
    offsets already index into its unsliced values."""
    if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
        _, offs_buf, data_buf = arr.buffers()
        width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        offs = np.frombuffer(offs_buf, dtype=width)[
            arr.offset : arr.offset + len(arr) + 1]
        return offs, np.frombuffer(data_buf, dtype=np.uint8)
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    vals = arr.values.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    vals.flags.writeable = False  # shared by every row sliced from it
    return offs, vals


class PostingView:
    """A table of index rows as numpy arrays plus a term → row-index map,
    built once; :meth:`rows` slices :class:`PostingRow` records out of it
    with no Arrow call.

    ``nbytes`` is what the view holds: its numpy arrays (zero-copy views of
    the Arrow buffers, the int64 copies of int32 list values, the per-row
    offsets) and the term map's Python objects, not just the Arrow
    buffers."""

    __slots__ = ("num_rows", "nbytes", "_rows_of", "_salt", "_df_part",
                 "_first_doc", "_spans", "_values")

    def __init__(self, tbl: pa.Table):
        self.num_rows = n = tbl.num_rows
        self._rows_of: dict[str, tuple[int, ...]] = {}
        if n == 0:
            self.nbytes = sys.getsizeof(self._rows_of)
            return
        tbl = tbl.combine_chunks()
        col = lambda name: tbl.column(name).chunk(0)  # noqa: E731
        for i, t in enumerate(col("term").to_pylist()):
            self._rows_of[t] = self._rows_of.get(t, ()) + (i,)
        self._salt = col("salt").to_numpy()
        self._df_part = col("df_part").to_numpy()
        self._first_doc = col("first_doc").to_numpy()
        sliced = {**_SLICED, **(_SLICED_POS if "pos_payload" in tbl.column_names
                                else {})}
        offsets, self._values = [], []
        for name, dtype in sliced.items():
            offs, vals = _sliced_column(col(name), dtype)
            offsets.append(offs)
            self._values.append(vals)
        # row i's bounds in every sliced column: one gather per lookup
        self._spans = np.stack(offsets, axis=1)
        arrays = [self._salt, self._df_part, self._first_doc, self._spans,
                  *self._values]
        self.nbytes = (
            sum(a.nbytes + _ARRAY_OVERHEAD for a in arrays)
            + sys.getsizeof(self._rows_of)
            + sum(sys.getsizeof(t) + sys.getsizeof(ix)
                  + sum(sys.getsizeof(i) for i in ix)
                  for t, ix in self._rows_of.items()))

    def rows(self, terms=None) -> list[PostingRow]:
        """The rows of ``terms`` (every row when None), in table order."""
        if terms is None:
            names: list = [None] * self.num_rows
            for t, ix in self._rows_of.items():
                for i in ix:
                    names[i] = t
            idx: list[int] = list(range(self.num_rows))
        else:
            hits = sorted((i, t) for t in set(terms)
                          for i in self._rows_of.get(t, ()))
            idx = [i for i, _ in hits]
            names = [t for _, t in hits]
        if not idx:
            return []
        sel = np.asarray(idx, dtype=np.intp)
        lo = self._spans[sel].tolist()
        hi = self._spans[sel + 1].tolist()
        salts = self._salt[sel].tolist()
        df_parts = self._df_part[sel]
        first_docs = self._first_doc[sel]
        payload, offs, lasts, mtfs, mdls, *pos = self._values
        out = []
        for j, (a, b) in enumerate(zip(lo, hi)):
            r = PostingRow()
            r.term = names[j]
            r.salt = salts[j]
            r.df_part = df_parts[j]
            r.first_doc = first_docs[j]
            r.payload = payload[a[0]:b[0]]
            r.block_offset = offs[a[1]:b[1]]
            r.block_last = lasts[a[2]:b[2]]
            r.block_max_tf = mtfs[a[3]:b[3]]
            r.block_min_dl = mdls[a[4]:b[4]]
            if pos:
                r.pos_payload = pos[0][a[5]:b[5]]
                r.pos_block_offset = pos[1][a[6]:b[6]]
            out.append(r)
        return out


def rows_from_arrow(tbl: pa.Table) -> list[PostingRow]:
    """pyarrow Table of index rows → :class:`PostingRow` records (every row
    of its :class:`PostingView`)."""
    return PostingView(tbl).rows()


def prev_lasts(row) -> np.ndarray:
    """Per block, the last doc id before it (block 0: ``first_doc - 1``)."""
    out = np.empty(len(row.block_last), dtype=np.int64)
    out[0] = int(row.first_doc) - 1
    out[1:] = row.block_last[:-1]
    return out


def decode_rows(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every posting of non-empty ``rows`` in ONE ``decode_blocks_many``
    call (every block selected) → (docs, tfs, dls), concatenated in row
    order: row i holds the next ``rows[i].df_part`` entries."""
    return decode_blocks_many([
        (r.payload, int(r.df_part), r.block_offset,
         np.arange(len(r.block_offset)), prev_lasts(r))
        for r in rows
    ])


def slice_doc_ids(rows) -> np.ndarray:
    """Sorted unique doc ids of every posting in ``rows``: one
    :func:`decode_rows` call for the whole slice, none for no rows."""
    return np.unique(decode_rows(rows)[0]) if rows else np.empty(0, np.int64)


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
