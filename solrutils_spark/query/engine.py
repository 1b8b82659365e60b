"""IndexReader — BM25 top-k over the merged on-disk index (E4/E5/T2/T3).

Query lifecycle (the Spark twin of SURVEY.md §3.1's Solr crossing):

1. analyze query text → terms (driver, frozen analyzer)
2. prune: ``index.filter(bucket IN … AND term IN …)`` — partition-directory
   pruning on ``bucket`` + row filter on ``term``; payload column read only
   for surviving rows (Parquet column/predicate pushdown)
3. global df per term from the build's ``termdf`` sidecar (direct pyarrow
   read of the terms' bucket files, cached — no Spark job)
4. score: ``groupBy("salt").applyInArrow`` — each salt slice's rows go
   through the one Arrow adapter (``arrow_rows.rows_from_arrow``) into the
   one block-max WAND kernel (``wand.topk_rows``), the same adapter and
   kernel ``search_local`` runs on the driver
5. merge: ``orderBy(score desc, doc_id).limit(k)`` over ≤ slices·k rows
   (TakeOrderedAndProject — never a full sort)
6. optional stored-field fetch for the ≤ k hits: :meth:`IndexReader.fetch`
   takes the collected (doc_id, score) rows and reads their stored fields
   from ``docs.parquet`` with pyarrow on the driver (requested columns, a
   ``doc_id`` mask, cached footers) — no Spark job
   (J3, QueryReRankComponent.java:80-85 semantics)

Every driver-side read (dfs, candidate postings, stored fields, the
vocabulary) goes through :meth:`IndexReader._read`: per-file parquet reads
on the calling thread, never pyarrow's thread pools. The driver's candidate
postings (``search_local``, ``search_conj_local``, ``scored_local``) are read
and adapted once per bucket per reader: each touched ``index/bucket=<b>``'s
``arrow_rows.POSTING_COLUMNS`` stay resident as one
``arrow_rows.PostingView`` (numpy columns plus a term → row-index map)
while the resident total fits :data:`DRIVER_POSTINGS_BYTES`, and a query
looks its terms' rows up in it by term, with no Arrow call. The termdf,
stored-field, doclen and vocabulary reads go to disk per call.

:meth:`IndexReader.scored_domain` is the request-shaped twin of steps 4-5:
ALL (doc_id, score) matches of the query (∩ filter) from one grouped pass,
scored by the exhaustive ``wand.topk_slice_batch`` kernel so every score is
bit-identical to :meth:`IndexReader.search`. ``PlanExecutor`` persists it
once per request and takes the ranked page, numFound and the facet domain
from that one frame. :meth:`IndexReader.scored_local` is its driver twin
(same kernel per salt slice, no Spark job), which ``PlanExecutor`` uses for
ranked requests whose postings fit its budget.

Filters (P2, ``fq``) never affect scores — Lucene ``setIsFilter(true)``
semantics (BulkUpdateHandler.java:59). The filter is a ``filter_df``: the
filtered domain's doc_ids stay a DataFrame. :meth:`IndexReader.salted_filter`
maps each id to its salt slice by pure arithmetic (salt = doc_id //
(segment_size·salt_group), geometry from stats.json) and hash-partitions the
ids by salt at the candidate side's partition count; the frame is COGROUPed
with the candidate postings, so every kernel receives only its own slice's
allowed ids and nothing is ever collected to the driver. A frame built once
by ``salted_filter`` and persisted (``PlanExecutor``'s filterCache does so)
is co-partitioned with the serving cache: repeated filtered queries shuffle
neither side.

WAND pruning stays ON under filters: θ accumulates over allowed docs only,
and block upper bounds remain valid for any doc — rank-identical (pinned).
"""

from __future__ import annotations

import math
import threading
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solrutils_spark.index.builder import read_docs, read_stats
from solrutils_spark.index.merge import read_index, term_bucket
from solrutils_spark.query import arrow_rows, wand
from solrutils_spark.query.arrow_rows import BATCH_DDL, TOPK_DDL
from solrutils_spark.query.arrow_rows import rows_from_arrow as _rows_from_arrow
from solrutils_spark.query.exact import query_terms
from solrutils_spark.query.wand import topk_rows
from solrutils_spark.session import job_label

# Driver paths call the module-level ``_rows_from_arrow`` / ``topk_rows``
# names; executor closures reach the same functions through their modules
# (``arrow_rows.rows_from_arrow``, ``wand.topk_rows``), so a driver-side
# wrapper around these names is never pickled into a task.

# Memory bound of a reader's resident driver postings (not a tuning
# option): the largest total ``nbytes`` of index-bucket views
# (``arrow_rows.PostingView`` of ``arrow_rows.POSTING_COLUMNS``: their
# arrays and term maps) one reader keeps after their first read. A bucket
# that does not fit is read from disk on every driver query. The perfbench
# index (1,500 docs, 4 buckets) holds ~2.7 MB (its Arrow tables: 1.4 MB);
# the bound covers an index ~90× that size.
DRIVER_POSTINGS_BYTES = 256 << 20


def ranked_page(scored: DataFrame, k: int, offset: int = 0) -> DataFrame:
    """Rows ``offset`` … ``offset + k`` of (doc_id, score) ``scored`` by
    (score desc, doc_id asc): one TakeOrderedAndProject of k + offset rows,
    never a full sort."""
    page = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k + offset)
    return page.offset(offset) if offset else page


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = read_stats(index_dir)
        self.index = read_index(spark, index_dir)
        # The memos below (and ``_docs``) are set once or only grow, and
        # hold only facts of the immutable on-disk index, so threads share
        # a reader unlocked: a race computes an entry twice and stores an
        # equal value. None of them persists a frame. The resident postings
        # also only grow, but their byte total is a bound, so their
        # check-and-store (only that) runs under ``_lock``.
        self._docs: DataFrame | None = None
        self._df_cache: dict[str, int] = {}
        # (field, value) → df of a metadata keyword clause (qparser)
        self._field_df_cache: dict[tuple[str, str], int] = {}
        # rel → [(file path, footer metadata)]; see _read
        self._files: dict[str, list[tuple[str, object]]] = {}
        # bucket → its resident POSTING_COLUMNS view, and the buckets that
        # did not fit; see _bucket_postings
        self._postings: dict[int, arrow_rows.PostingView] = {}
        self._postings_bytes = 0
        self._unheld: set[int] = set()
        self._lock = threading.Lock()
        # the serving cache's partition count (None: not serving)
        self._serving_partitions: int | None = None

    @property
    def docs(self) -> DataFrame:
        if self._docs is None:
            self._docs = read_docs(self.spark, self.index_dir)
        return self._docs

    def cache_for_serving(self) -> "IndexReader":
        """Hot-index mode: repartition the postings by ``salt`` and persist.

        Every scored query stage is ``groupBy("salt").applyInArrow(...)``
        (or its ``cogroup`` twin under ``filter_df``); with the cache
        already hash-partitioned on salt, Catalyst elides the per-query
        Exchange — repeated queries shuffle ZERO bytes and go straight from
        cache scan to kernel. The cluster twin is a salt-bucketed index
        table kept resident on the serving executors.

        The cached partition count is ``min(4 · num_salts,
        spark.sql.shuffle.partitions)``. The kernel stage never has more
        than ``num_salts`` non-empty groups, so partitions beyond a few ×
        num_salts are empty-task overhead (8-salt bench index at local[32]:
        128 cached partitions ran 120 empty Python-kernel tasks per job;
        the 13-query filtered loop took 13.6 s against 6.9 s at 32). The 4×
        oversubscription averages hash-collision imbalance (hashing S salts
        into exactly S partitions doubles up ~1/e of them), and the cap
        keeps large-salt indexes at the session's parallelism: one
        partition per core instead (8 on a 64-salt, 1M-doc index) made the
        batch fixed cost 2.46 → 3.33 s, fat tasks serializing ~8 salts
        behind the slowest sibling. :meth:`salted_filter` partitions filter
        ids at the same count.

        The materializing job is labelled ``serving: cache index`` (the
        caller's label is restored). A second call is a no-op that returns
        the reader."""
        if self._serving_partitions is not None:
            return self
        shuffle_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        n = min(4 * int(self.stats["num_salts"]), shuffle_parts)
        self.index = self.index.repartition(n, "salt").persist()
        with job_label(self.spark, "serving: cache index"):
            self.index.count()
        self._serving_partitions = n
        return self

    def idf(self, df: int) -> float:
        n = self.stats["n_docs"]
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _candidate_rows(self, terms: list[str], positions: bool = False
                        ) -> DataFrame:
        """Index rows of ``terms``: bucket-directory pruned, term-filtered.
        ``positions`` adds the positional sidecar columns, read fresh from
        disk (not the lean serving cache): only phrase queries pay for the
        position bytes, and only for their own terms' buckets."""
        idx = (read_index(self.spark, self.index_dir, with_positions=True)
               if positions else self.index)
        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        return idx.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df per query term. Served from the bucket-partitioned
        ``termdf`` sidecar via direct pyarrow reads (no Spark job — the
        lookup touches ≤ |query terms| bucket directories and is cached).
        Terms absent from the corpus are left out of the result."""
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            self._df_cache.update(self._sidecar_dfs(missing))
        return {t: self._df_cache[t] for t in terms if self._df_cache.get(t)}

    def _sidecar_dfs(self, terms: list[str]) -> dict[str, int]:
        out = {t: 0 for t in terms}
        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        for b in buckets:
            table = self._read(f"termdf/bucket={b}", ["term", "df"], "term", terms)
            for t, d in zip(table["term"].to_pylist(), table["df"].to_pylist()):
                out[t] = int(d)
        return out

    def _read(self, rel: str, columns: list[str], field: str | None = None,
              values=None) -> pa.Table:
        """``columns`` of the parquet files under ``index_dir/rel`` (every
        ``*.parquet`` below it, ``_``/``.``-prefixed paths skipped, as Spark
        and pyarrow datasets do), restricted to rows whose ``field`` is in
        ``values`` when ``field`` is given. No matching row (or no such
        ``rel``) reads as an empty table of null-typed columns.

        Reads on the CALLING thread: ``ParquetFile.read(columns,
        use_threads=False)`` per file, then a ``pc.is_in`` row mask. A
        dataset scan goes through pyarrow's CPU/IO pool threads, whose
        allocator keeps dirty pages: over 2,400 in-process driver-route JSON
        requests (perfbench's 1,500-doc index, 4-core host) RSS grew
        +12-13 MB with dataset scans against +1 MB with these reads. Whole
        files are read: the index's bucket files hold one or two row groups
        each (1,500 and 100k docs), and pruning them by min/max statistics
        left ``search_local`` p50 unchanged on both. File listings and
        footers are read once per reader (the built index is immutable);
        the driver's postings reads go through :meth:`_bucket_postings`,
        which keeps what it reads."""
        import pyarrow.parquet as pq

        files = self._files.get(rel)
        if files is None:
            root = Path(self.index_dir) / rel
            paths = [root] if root.is_file() else sorted(
                f for f in root.rglob("*.parquet")
                if not any(part.startswith(("_", "."))
                           for part in f.relative_to(root).parts))
            files = [(str(f), pq.read_metadata(f)) for f in paths]
            self._files[rel] = files
        value_set = pa.array(list(set(values))) if field is not None else None
        tables = []
        for path, meta in files:
            tbl = pq.ParquetFile(path, metadata=meta).read(
                columns=columns, use_threads=False)
            if field is not None:
                tbl = tbl.filter(pc.is_in(tbl[field], value_set=value_set))
            tables.append(tbl)
        if not tables:
            return pa.table({c: pa.array([], pa.null()) for c in columns})
        return pa.concat_tables(tables)

    def _per_slice(self, cand: DataFrame, fn, schema: str,
                   filter_df: DataFrame | None = None) -> DataFrame:
        """``fn(rows, allowed) → pa.Table`` on every salt slice of ``cand``
        in one ``applyInArrow`` stage — the one grouped-kernel shape of every
        query in ``query/`` (ranked, batch, conjunctive, counting and the
        Lucene boolean tree, phrase and multi-term queries among them).

        Without ``filter_df``, ``allowed`` is None. With it, the filter ids
        go through :meth:`salted_filter` (a salted frame passes unchanged)
        and are COGROUPed with the candidate rows, so each slice gets only
        its own allowed ids as a sorted int64 array (a slice with none
        skips the decode); with a ``leaf`` column (the boolean tree's side),
        ``{leaf: sorted ids}``. ``fn`` is pickled into the tasks: it must not
        capture the reader."""
        if filter_df is None:

            def kernel(tbl: pa.Table) -> pa.Table:
                return fn(arrow_rows.rows_from_arrow(tbl), None)

            return cand.groupBy("salt").applyInArrow(kernel, schema)

        def ckernel(cand_tbl: pa.Table, fid_tbl: pa.Table) -> pa.Table:
            ids = fid_tbl.column("doc_id").to_numpy()
            if "leaf" in fid_tbl.column_names:
                leaf = fid_tbl.column("leaf").to_numpy()
                return fn(arrow_rows.rows_from_arrow(cand_tbl),
                          {int(t): np.unique(ids[leaf == t])
                           for t in np.unique(leaf)})
            allowed = np.sort(ids)
            rows = arrow_rows.rows_from_arrow(cand_tbl) if allowed.size else []
            return fn(rows, allowed)

        return (
            cand.groupBy("salt")
            .cogroup(self.salted_filter(filter_df).groupBy("salt"))
            .applyInArrow(ckernel, schema)
        )

    def salt_span(self) -> int:
        """doc_ids per salt slice: salt = doc_id // salt_span (pure
        arithmetic — segment/salt geometry persisted by the build)."""
        return int(self.stats["salt_group"]) * int(self.stats["segment_size"])

    def salted_filter(self, filter_df: DataFrame) -> DataFrame:
        """(doc_id) → (doc_id, salt), hash-partitioned by ``salt`` like the
        candidate side of the filter cogroup: at the serving cache's
        partition count, or (``repartition("salt")``) at the session's
        shuffle partitions when the reader is not serving. A frame that
        already has ``salt`` passes through unchanged.

        Persist the result to reuse one filter across queries (the Solr
        filterCache keeps one DocSet per fq; ``PlanExecutor`` keeps this
        frame per fq-set): the cogroup then reads both sides as
        partitioned and runs no per-query exchange. Persist, not
        ``localCheckpoint``: only the cached relation keeps the hash
        partitioning visible to Catalyst. A salted frame partitioned some
        other way stays correct — Catalyst inserts the exchange the cogroup
        needs on every query. Of the other columns only ``leaf`` is kept."""
        if "salt" in filter_df.columns:
            return filter_df
        span = self.salt_span()
        salted = filter_df.select(
            F.col(filter_df.columns[0]).cast("long").alias("doc_id"),
            *(["leaf"] if "leaf" in filter_df.columns else []),
        ).withColumn("salt", (F.col("doc_id") / F.lit(span)).cast("int"))
        n = self._serving_partitions
        return (salted.repartition(n, "salt") if n is not None
                else salted.repartition("salt"))

    def search(
        self,
        query_text: str,
        k: int = 10,
        *,
        offset: int = 0,
        filter_df: DataFrame | None = None,
    ) -> DataFrame:
        """Disjunctive BM25 top-k → DataFrame(doc_id, score), ranked.

        ``filter_df``: single-column DataFrame of allowed doc_ids (see module
        docstring) — P2 semantics (restrict, never score).
        """
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t)]
        if not terms:
            return self.spark.createDataFrame([], TOPK_DDL)

        idf_by_term = {t: self.idf(dfs[t]) for t in terms}
        avgdl = float(self.stats["avgdl"])
        fetch_k = k + offset

        def slice_topk(rows, allowed):
            return arrow_rows.topk_table(*wand.topk_rows(
                rows, idf_by_term, avgdl, fetch_k, allowed_docs=allowed))

        return ranked_page(self._per_slice(
            self._candidate_rows(terms), slice_topk, TOPK_DDL, filter_df),
            k, offset)

    def search_conj(self, query_text: str, k: int = 10, *, offset: int = 0,
                    filter_df: DataFrame | None = None) -> DataFrame:
        """Conjunctive (q.op=AND) BM25 top-k — see query/boolean.py."""
        from solrutils_spark.query.boolean import search_conj

        return search_conj(self, query_text, k, offset=offset,
                           filter_df=filter_df)

    def phrase_search(self, phrase_text: str, k: int = 10,
                      slop: int = 0) -> DataFrame:
        """Phrase query, exact or sloppy, scored from the positional
        sidecar — see query/qparser.py."""
        from solrutils_spark.query.qparser import phrase_search

        return phrase_search(self, phrase_text, k, slop=slop)

    def prefix_search(self, pattern: str, k: int = 10,
                      max_expansions: int = 1024) -> DataFrame:
        """Prefix/wildcard query (constant-score) — see query/qparser.py."""
        from solrutils_spark.query.qparser import prefix_search

        return prefix_search(self, pattern, k, max_expansions)

    def fuzzy_search(self, term: str, k: int = 10, max_edits: int = 1,
                     max_expansions: int = 50) -> DataFrame:
        """Fuzzy term query (constant-score) — see query/qparser.py."""
        from solrutils_spark.query.qparser import fuzzy_search

        return fuzzy_search(self, term, k, max_edits, max_expansions)

    def search_batch(
        self,
        queries: list[tuple[int, str, int]],
        *,
        filter_df: DataFrame | None = None,
    ) -> DataFrame:
        """Score MANY queries in ONE Spark job → (query_id, doc_id, score, rank).

        The throughput path for offline evaluation / reranking pipelines:
        candidate rows for the UNION of all query terms are fetched once,
        each salt-slice scores every query locally (shared decode within the
        slice), and a per-query window takes global top-k. The slice kernel
        (``wand.topk_slice_batch``) is exhaustive with the same BM25
        arithmetic and summation order as the WAND kernel, so per-query
        results equal :meth:`search` exactly — ids, order and float scores.

        ``filter_df``: optional single-column DataFrame of allowed doc_ids
        applied to EVERY query in the batch (P2 semantics — restrict, never
        score). Same salt-cogroup shape as :meth:`search`: the filter ids are
        salted by arithmetic and cogrouped with the candidate postings, so a
        filtered offline-eval batch is still ONE job with a once-per-term
        intersection (round 2 paid one kernel job PER filtered query).
        Rank-identical to per-query ``search(filter_df=...)`` (pinned).
        """
        all_terms = sorted({t for _, q, _ in queries for t in query_terms(q)})
        dfs = self.term_dfs(all_terms)
        plans = []
        for qid, qtext, k in queries:
            terms = [t for t in query_terms(qtext) if dfs.get(t)]
            if terms:
                plans.append((qid, {t: self.idf(dfs[t]) for t in terms}, k))
        avgdl = float(self.stats["avgdl"])

        def slice_batch(rows, allowed):
            return arrow_rows.batch_table(
                wand.topk_slice_batch(rows, plans, avgdl, allowed))

        return self._per_query_topk(plans, slice_batch, filter_df)

    def _per_query_topk(self, plans, fn, filter_df: DataFrame | None = None
                        ) -> DataFrame:
        """One batch job → (query_id, doc_id, score, rank). ``plans``: the
        batch's (query_id, {term: idf}, k); ``fn(rows, allowed)`` returns a
        slice's :data:`BATCH_DDL` table over the candidate rows of every
        plan's terms (:meth:`_per_slice`). ``rank`` is the row number by
        (score desc, doc_id asc) within a query_id, kept while ≤ that
        query's k (a broadcast k-map): a repeated query_id ranks the rows
        of all its plans together and keeps its last k."""
        from pyspark.sql import Window

        if not plans:
            return self.spark.createDataFrame([], BATCH_DDL + ", rank int")
        live_terms = sorted({t for _, idfs, _ in plans for t in idfs})
        sliced = self._per_slice(self._candidate_rows(live_terms), fn,
                                 BATCH_DDL, filter_df)
        k_df = self.spark.createDataFrame(
            list({qid: k for qid, _, k in plans}.items()), "query_id long, k int")
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            sliced.withColumn("rank", F.row_number().over(w))
            .join(F.broadcast(k_df), "query_id")
            .filter(F.col("rank") <= F.col("k"))
            .drop("k")
        )

    def _local_rows(self, terms: list[str]) -> list[arrow_rows.PostingRow]:
        """Candidate posting rows of ``terms`` on the driver (no Spark job),
        bucket by bucket — the shared driver-serving fetch under
        :meth:`search_local`, :meth:`search_conj_local` and
        :meth:`scored_local`. A resident bucket (:meth:`_bucket_postings`)
        answers with dictionary lookups and numpy slices of its view: no
        Arrow call, no mask, no per-query conversion. A bucket over the
        bound is read per call, its terms' rows masked out of the read
        (``_read``) and adapted (``_rows_from_arrow``). Either way rows keep
        the files' order, so results do not depend on residency."""
        num_buckets = self.stats["num_buckets"]
        by_bucket: dict[int, list[str]] = {}
        for t in set(terms):
            by_bucket.setdefault(term_bucket(t, num_buckets), []).append(t)
        rows: list[arrow_rows.PostingRow] = []
        for b, bucket_terms in sorted(by_bucket.items()):
            view = self._bucket_postings(b)
            if view is not None:
                rows.extend(view.rows(bucket_terms))
            else:
                rows.extend(_rows_from_arrow(self._read(
                    f"index/bucket={b}", arrow_rows.POSTING_COLUMNS,
                    "term", bucket_terms)))
        return rows

    def _bucket_postings(self, b: int) -> arrow_rows.PostingView | None:
        """Bucket ``b``'s ``arrow_rows.POSTING_COLUMNS`` as one
        :class:`~arrow_rows.PostingView` of every row of its files, or None
        when the bucket is read per call.

        The first call reads the bucket whole and keeps its view while the
        resident total of view ``nbytes`` (everything a view holds, not only
        its Arrow buffers) stays ≤ :data:`DRIVER_POSTINGS_BYTES`. The store
        only grows, so a bucket that did not fit never will: it is
        remembered in ``_unheld`` and from then on read per call, its terms
        masked, as every driver query read it before residency (the view
        built on that first call still serves it). The lock covers only the
        check-and-store: two threads may both read a cold bucket, and the
        first to store it wins."""
        view = self._postings.get(b)
        if view is not None or b in self._unheld:
            return view
        view = arrow_rows.PostingView(
            self._read(f"index/bucket={b}", arrow_rows.POSTING_COLUMNS))
        with self._lock:
            held = self._postings.get(b)
            if held is not None:
                return held
            if self._postings_bytes + view.nbytes <= DRIVER_POSTINGS_BYTES:
                self._postings[b] = view
                self._postings_bytes += view.nbytes
            else:
                self._unheld.add(b)
        return view

    def search_conj_local(self, query_text: str, k: int = 10, *,
                          offset: int = 0) -> list[tuple[int, float]]:
        """Driver-serving twin of :meth:`search_conj` — same resident-view
        fetch as :meth:`search_local`, same block-skipping intersection kernel as the
        distributed path (``conj_slice`` merges multi-salt rows per term), so
        results are rank- and score-identical by construction (pinned)."""
        from solrutils_spark.query.boolean import topk_conj

        terms = sorted(set(query_terms(query_text)))
        if not terms:
            return []
        dfs = self.term_dfs(terms)
        if len([t for t in terms if dfs.get(t)]) < len(terms):
            return []  # MUST semantics: any dead term ⇒ no matches
        idf_by_term = {t: self.idf(dfs[t]) for t in terms}
        fetch_k = k + offset
        rows = self._local_rows(terms)
        if not rows:
            return []
        docs, scores = topk_conj(rows, idf_by_term, float(self.stats["avgdl"]),
                                 fetch_k, n_terms=len(terms))
        return [
            (int(docs[i]), float(scores[i]))
            for i in range(offset, min(fetch_k, docs.size))
        ]

    def search_conj_batch(self, queries: list[tuple[int, str, int]]) -> DataFrame:
        """Many conjunctive queries in ONE Spark job — see query/boolean.py."""
        from solrutils_spark.query.boolean import search_conj_batch

        return search_conj_batch(self, queries)

    def search_local(
        self,
        query_text: str,
        k: int = 10,
        *,
        offset: int = 0,
    ) -> list[tuple[int, float]]:
        """Low-latency serving path: SAME on-disk index, SAME WAND kernel,
        but candidate rows come from :meth:`_local_rows` (bucket pruned,
        looked up by term in the reader's resident bucket views) and are
        scored on the driver — no Spark job.

        Rank-identical to :meth:`search` by construction (shared kernel,
        shared stats); pinned by tests. Use for interactive/point queries —
        the distributed path remains the scale/batch road (a single query's
        candidate postings fit driver memory whenever the query is
        interactive; a query hot enough to break that belongs on the batch
        path).

        Hot path is pandas- and Arrow-free: a bucket is decoded from disk
        and adapted to numpy once per reader (:meth:`_bucket_postings`,
        within :data:`DRIVER_POSTINGS_BYTES`) — the on-disk index is
        immutable after build — and a query's ``PostingRow`` records are
        slices of that view, found by term. On perfbench ``local_query``
        (1,500-doc index, 4-core host) decoding every touched bucket file
        per query took 3.3 ms of a 5.1 ms op; masking the resident tables
        and re-adapting the masked rows per query still took ~40% of a
        1.3 ms op."""
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t)]
        if not terms:
            return []
        idf_by_term = {t: self.idf(dfs[t]) for t in terms}
        avgdl = float(self.stats["avgdl"])
        fetch_k = k + offset

        rows = self._local_rows(terms)
        if not rows:
            return []
        docs, scores = topk_rows(rows, idf_by_term, avgdl, fetch_k)
        return [
            (int(docs[i]), float(scores[i]))
            for i in range(offset, min(fetch_k, docs.size))
        ]

    def scored_domain(self, query_text: str, *,
                      filter_df: DataFrame | None = None) -> DataFrame:
        """Every (doc_id, score) matching ≥1 query term (∩ ``filter_df``),
        unranked — the one scored pass a request takes its ranked page,
        numFound and facet domain from (Solr's ``getDocListAndSet``: the
        page and the full DocSet from one collector pass).

        Same grouped shape as :meth:`search`, but each slice runs the
        exhaustive ``wand.topk_slice_batch`` with k = the slice's doc span,
        so it keeps every doc it touches. That kernel shares the arithmetic
        and summation order of :meth:`search`'s, so the scores are
        bit-identical (pinned). Salt slices are disjoint doc ranges: the
        rows are already distinct. :meth:`scored_local` computes the same
        pairs on the driver with no Spark job."""
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        idf_by_term = {t: self.idf(dfs[t]) for t in terms if dfs.get(t)}
        if not idf_by_term:
            return self.spark.createDataFrame([], TOPK_DDL)
        plans = [(0, idf_by_term, self.salt_span())]
        avgdl = float(self.stats["avgdl"])

        def slice_all(rows, allowed):
            return arrow_rows.batch_table(wand.topk_slice_batch(
                rows, plans, avgdl, allowed)).drop_columns("query_id")

        return self._per_slice(self._candidate_rows(list(idf_by_term)),
                               slice_all, TOPK_DDL, filter_df)

    def scored_local(self, query_text: str,
                     allowed: np.ndarray | None = None
                     ) -> tuple[np.ndarray, np.ndarray]:
        """Driver twin of :meth:`scored_domain`: every (doc_id, score)
        matching ≥1 query term (∩ ``allowed``, a sorted int64 doc_id array)
        as two unranked numpy arrays — no Spark job.

        Candidate rows come from :meth:`_local_rows`, are grouped by salt
        (the kernel takes one row per term) and each slice runs the same
        exhaustive ``wand.topk_slice_batch`` with k = :meth:`salt_span` and
        that slice's part of ``allowed``, so every score is bit-identical
        to :meth:`scored_domain` (pinned). Memory: the decoded postings of
        the live terms, Σ df — the caller bounds it (``PlanExecutor``
        routes here only under ``DRIVER_POSTINGS_BUDGET``) — besides the
        reader's resident bucket views (≤ :data:`DRIVER_POSTINGS_BYTES`,
        shared by every driver query)."""
        ids = [np.empty(0, np.int64)]
        scores = [np.empty(0, np.float64)]
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        idf_by_term = {t: self.idf(dfs[t]) for t in terms if dfs.get(t)}
        span = self.salt_span()
        plans = [(0, idf_by_term, span)]
        avgdl = float(self.stats["avgdl"])
        by_salt: dict[int, list] = {}
        for row in self._local_rows(list(idf_by_term)) if idf_by_term else []:
            by_salt.setdefault(int(row.salt), []).append(row)
        for salt, rows in sorted(by_salt.items()):
            part = None
            if allowed is not None:
                lo, hi = np.searchsorted(allowed, [salt * span, (salt + 1) * span])
                part = allowed[lo:hi]
                if not part.size:
                    continue  # as the cogroup: no allowed id, no decode
            for _, d, s in wand.topk_slice_batch(rows, plans, avgdl, part):
                ids.append(d)
                scores.append(s)
        return np.concatenate(ids), np.concatenate(scores)

    def fetch(self, hits, fields: list[str] | None = None) -> list[dict]:
        """J3 — stored fields for collected hits.

        ``hits``: (doc_id, score) pairs (tuples, Rows or numpy scalars) in
        rank order — from either request route of ``PlanExecutor``.
        Returns one dict per hit, in the same order, with keys ``doc_id``,
        ``score``, then ``fields`` (default repo, path, commit, lang).

        One pyarrow read of ``docs.parquet`` on the driver's calling thread
        (:meth:`_read`): only the requested columns, filtered to the hits'
        doc_ids. The doclen sidecar is read only when ``doc_len`` is
        requested (0 for a doc it lacks, as in :attr:`docs`). No Spark job:
        hits are ≤ start + rows rows already on the driver. The docs files
        come out of a hash join, so each spans the whole doc_id range."""
        cols = fields or ["repo", "path", "commit", "lang"]
        hits = [(int(d), float(s)) for d, s in hits]
        if not hits:
            return []
        ids = [d for d, _ in hits]
        stored = [c for c in dict.fromkeys(cols)
                  if c not in ("doc_id", "score", "doc_len")]
        tbl = self._read("docs.parquet", ["doc_id", *stored], "doc_id", ids)
        if "doc_len" in cols:
            lens = self._read("doclen", ["doc_id", "doc_len"], "doc_id", ids)
            by_doc = dict(zip(lens.column("doc_id").to_pylist(),
                              lens.column("doc_len").to_pylist()))
            tbl = tbl.append_column("doc_len", pa.array(
                [by_doc.get(d, 0) for d in tbl.column("doc_id").to_pylist()],
                pa.int32()))
        by_id = {r["doc_id"]: r for r in tbl.to_pylist()}
        out = []
        for d, s in hits:
            r = by_id.get(d)
            if r is None:
                continue  # not in the docs table: inner-join semantics
            row = {"doc_id": d, "score": s}
            for c in cols:
                if c not in ("doc_id", "score"):
                    row[c] = r[c]
            out.append(row)
        return out

    def matching_count(self, query_text: str) -> int:
        """numFound for an UNFILTERED scored request (Solr's exact hit count,
        CustomSearchHandler.java:256 ``numFound`` log field).

        - single live term: the global df from the termdf sidecar — no Spark
          job, no decode at all;
        - multi-term: per-slice unique counts (slices are disjoint doc
          ranges) summed on the driver — each task ships ONE long instead of
          its doc_id set, so the union/dedup never shuffles ids.
        """
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        live = [t for t in terms if dfs.get(t)]
        if not live:
            return 0
        if len(live) == 1:
            return int(dfs[live[0]])

        def count_slice(rows, _allowed):
            ids = arrow_rows.slice_doc_ids(rows)
            return pa.table({"n": pa.array([ids.size], pa.int64())})

        counts = self._per_slice(self._candidate_rows(live), count_slice,
                                 "n long").collect()
        return int(sum(r["n"] for r in counts))
