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
   ``doc_id`` predicate, cached dataset handles) — no Spark job
   (J3, QueryReRankComponent.java:80-85 semantics)

:meth:`IndexReader.scored_domain` is the request-shaped twin of steps 4-5:
ALL (doc_id, score) matches of the query (∩ filter) from one grouped pass,
scored by the exhaustive ``wand.topk_slice_batch`` kernel so every score is
bit-identical to :meth:`IndexReader.search`. ``PlanExecutor`` persists it
once per request and takes the ranked page, numFound and the facet domain
from that one frame.

Filters (P2, ``fq``) never affect scores — Lucene ``setIsFilter(true)``
semantics (BulkUpdateHandler.java:59). The filter is a ``filter_df``: the
filtered domain's doc_ids stay a DataFrame; each id is mapped to its salt
slice by pure arithmetic (salt = doc_id // (segment_size·salt_group),
geometry from stats.json) and COGROUPed with the candidate postings, so
every kernel receives only its own slice's allowed ids — one keyed shuffle
of (doc_id, salt) rows, nothing ever collected to the driver.

WAND pruning stays ON under filters: θ accumulates over allowed docs only,
and block upper bounds remain valid for any doc — rank-identical (pinned).
"""

from __future__ import annotations

import math
from collections import OrderedDict
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solrutils_spark.index.builder import read_docs, read_stats
from solrutils_spark.index.merge import read_index, term_bucket
from solrutils_spark.query import arrow_rows, wand
from solrutils_spark.query.arrow_rows import rows_from_arrow as _rows_from_arrow
from solrutils_spark.query.exact import query_terms
from solrutils_spark.query.wand import topk_rows

# Driver paths call the module-level ``_rows_from_arrow`` / ``topk_rows``
# names; executor closures reach the same functions through their modules
# (``arrow_rows.rows_from_arrow``, ``wand.topk_rows``), so a driver-side
# wrapper around these names is never pickled into a task.

TOPK_DDL = "doc_id long, score double"


class _AlignedFilter(NamedTuple):
    """One entry of :meth:`IndexReader._aligned_filter`'s cache."""

    source: DataFrame  # the caller's frame: pins it so its id() stays unique
    aligned: DataFrame  # salted, co-partitioned with the serving cache
    owned: bool  # the reader persisted ``aligned`` (eviction unpersists it)


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = read_stats(index_dir)
        self.index = read_index(spark, index_dir)
        self._docs: DataFrame | None = None
        self._df_cache: dict[str, int] = {}
        # (field, value) → df of a metadata keyword clause (qparser)
        self._field_df_cache: dict[tuple[str, str], int] = {}
        self._datasets: dict[str, object] = {}
        self._serving_partitions: int | None = None
        # filter-alignment cache: id(filter_df) → _AlignedFilter. Bounded
        # LRU; see _aligned_filter.
        self._filter_align_cache: OrderedDict[int, _AlignedFilter] = OrderedDict()
        self._filter_align_max = 8

    @property
    def docs(self) -> DataFrame:
        if self._docs is None:
            self._docs = read_docs(self.spark, self.index_dir)
        return self._docs

    def cache_for_serving(self, num_partitions: int | None = None) -> "IndexReader":
        """Hot-index mode: repartition the postings by ``salt`` and persist.

        Every scored query stage is ``groupBy("salt").applyInArrow(...)``
        (or its ``cogroup`` twin under ``filter_df``);
        with the cache already hash-partitioned on salt, Catalyst elides the
        per-query Exchange (ClusteredDistribution is satisfied by the cached
        partitioning for ANY partition count) — repeated queries shuffle
        ZERO bytes and go straight from cache scan to kernel. The cluster
        twin is a salt-bucketed index table kept resident on the serving
        executors.

        ``num_partitions``: tuning knob for the cached partition count.
        Default (round 6): ``min(4 · num_salts, spark.sql.shuffle.partitions)``
        — the kernel stage can never have more than ``num_salts`` non-empty
        groups, so partitions beyond a few × num_salts are pure empty-task
        overhead (measured on the 8-salt bench index at local[32]:
        128 cached partitions = 120 empty python-kernel tasks PER JOB;
        13-query filtered loop 13.6 s → 6.9 s and batch 2.3 → 0.8 s at 32
        partitions). The 4× oversubscription averages hash-collision
        imbalance (hashing S salts into exactly S partitions doubles-up
        ~1/e of them), and the shuffle-partitions cap keeps large-salt
        indexes at the session's parallelism. A round-5 experiment
        defaulted this to one partition per CORE (8, on a 64-salt index)
        hoping to cut the ~2.5 s/job batch floor; measured at 1M docs it
        did the OPPOSITE — core-count fat tasks serialize ~8 salts behind
        the slowest sibling (fixed cost 2.46 → 3.33 s). The round-6
        formula keeps that regime unchanged (min(256, 32) = 32) while
        removing the empty-task overhead where salts ≪ shuffle
        partitions. Note a filter side persisted at a DIFFERENT partition
        count makes the cogroup re-exchange the pruned candidate rows
        (bucket/term-filtered — MBs, not the index); since round 6 the
        reader detects this and re-partitions + persists the filter ids
        itself, once per frame (:meth:`_aligned_filter`) — callers that
        co-partition their filterCache up front simply bypass that cache.

        Calling it again re-partitions the cached index and unpersists the
        previous cached copy once the new one is materialized; when the
        partition count changes, the filter-alignment cache is cleared
        (aligned frames the reader persisted are unpersisted) because its
        entries are co-partitioned with the OLD count."""
        if num_partitions is None:
            shuffle_parts = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            num_partitions = min(4 * int(self.stats["num_salts"]), shuffle_parts)
        num_partitions = int(num_partitions)
        if self._serving_partitions not in (None, num_partitions):
            for entry in self._filter_align_cache.values():
                if entry.owned:
                    entry.aligned.unpersist()
            self._filter_align_cache.clear()
        previous = self.index if self._serving_partitions is not None else None
        self.index = self.index.repartition(num_partitions, "salt").persist()
        self.index.count()
        if previous is not None:
            # after the count: a materialized cache no longer reads the
            # copy it was built from, so unpersisting that copy keeps it
            previous.unpersist()
        self._serving_partitions = num_partitions
        return self

    def idf(self, df: int) -> float:
        n = self.stats["n_docs"]
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _candidate_rows(self, terms: list[str]) -> DataFrame:
        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        return self.index.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def _candidate_rows_with_positions(self, terms: list[str]) -> DataFrame:
        """Candidate rows INCLUDING the positional sidecar columns — read
        fresh from disk (not the lean serving cache): only phrase queries
        pay for the position bytes, and only for their own terms' buckets."""
        idx = read_index(self.spark, self.index_dir, with_positions=True)
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
        import pyarrow.dataset as ds

        out = {t: 0 for t in terms}
        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        for b in buckets:
            dset = self._dataset(f"termdf/bucket={b}")
            if dset is None:
                continue
            table = dset.to_table(
                columns=["term", "df"],
                filter=ds.field("term").isin(terms),
            )
            for t, d in zip(table["term"].to_pylist(), table["df"].to_pylist()):
                out[t] = int(d)
        return out

    def _dataset(self, rel: str):
        """pyarrow dataset handle for ``index_dir/rel``, or None when that
        directory does not exist. Opened once per reader: a handle is a
        directory listing, and the built index is immutable."""
        if rel not in self._datasets:
            import pyarrow.dataset as ds

            path = Path(self.index_dir) / rel
            self._datasets[rel] = ds.dataset(str(path)) if path.exists() else None
        return self._datasets[rel]

    def _per_slice(self, cand: DataFrame, fn, schema: str,
                   filter_df: DataFrame | None = None) -> DataFrame:
        """``fn(rows, allowed) → pa.Table`` on every salt slice of ``cand``
        in one ``applyInArrow`` stage — the one grouped-kernel shape of every
        query in ``query/`` (ranked, batch, conjunctive, phrase, multi-term,
        counting).

        Without ``filter_df``, ``allowed`` is None. With it, the filter ids
        are salted and co-partitioned (:meth:`_aligned_filter`) and
        COGROUPed with the candidate rows, so each slice gets only its own
        allowed ids as a sorted int64 array (a slice with none skips the
        decode). ``fn`` is pickled into the tasks: it must not capture the
        reader."""
        if filter_df is None:

            def kernel(tbl: pa.Table) -> pa.Table:
                return fn(arrow_rows.rows_from_arrow(tbl), None)

            return cand.groupBy("salt").applyInArrow(kernel, schema)

        def ckernel(cand_tbl: pa.Table, fid_tbl: pa.Table) -> pa.Table:
            allowed = np.sort(fid_tbl.column("doc_id").to_numpy())
            rows = arrow_rows.rows_from_arrow(cand_tbl) if allowed.size else []
            return fn(rows, allowed)

        fids = self._aligned_filter(filter_df)
        return (
            cand.groupBy("salt")
            .cogroup(fids.groupBy("salt"))
            .applyInArrow(ckernel, schema)
        )

    def salt_span(self) -> int:
        """doc_ids per salt slice: salt = doc_id // salt_span (pure
        arithmetic — segment/salt geometry persisted by the build)."""
        return int(self.stats["salt_group"]) * int(self.stats["segment_size"])

    def salted_filter(self, filter_df: DataFrame) -> DataFrame:
        """(doc_id) → (doc_id, salt) for the cogroup filter path. Passes
        through unchanged if the caller already salted it — a filterCache can
        hand in ``salted_filter(ids).repartition("salt").persist()`` so the
        per-query filter-side exchange is elided too (the Solr analog keeps
        DocSets in index order for cheap intersection)."""
        if "salt" in filter_df.columns:
            return filter_df
        span = self.salt_span()
        return filter_df.select(
            F.col(filter_df.columns[0]).cast("long").alias("doc_id")
        ).withColumn("salt", (F.col("doc_id") / F.lit(span)).cast("int"))

    def _aligned_filter(self, filter_df: DataFrame) -> DataFrame:
        """Salt the filter side and CO-PARTITION it with the serving cache.

        The scored-filter cogroup requires both children clustered by
        ``salt`` with the same partition count. A filterCache persisted at a
        different count (e.g. ``repartition("salt")`` under default shuffle
        partitions = 128 against a 32-partition serving cache — the shape a
        caller gets by following the salted_filter docstring verbatim on a
        local session) forces EnsureRequirements to re-exchange one side on
        EVERY query job. Measured on the 20k bench index (local[32],
        interleaved reps): the 13-query filtered loop runs 20-30% slower
        with a 128-partition filter than with a co-partitioned one
        (10.7/8.7/5.6 s vs 7.7/6.9/4.2 s), and a co-partitioned filter is at
        parity with the unfiltered loop.

        When serving mode is on and the counts mismatch, the salted ids are
        re-partitioned ONCE and persisted (persist — not localCheckpoint —
        because only InMemoryRelation preserves the hash partitioning for
        Catalyst; a checkpointed RDD reports UnknownPartitioning and the
        per-query exchange comes back). Entries live in a bounded LRU keyed
        by the caller's filter frame (the Solr filterCache analog,
        filterCache semantics like PlanExecutor._cached_filter_ids):
        at most ``_filter_align_max`` aligned domains are resident, eviction
        unpersists. On a correctly co-partitioned cluster deployment the
        counts match and this cache never engages (zero extra memory).

        The pass-through check trusts the partition COUNT, not the frame's
        ``outputPartitioning``: a filter with the right count but not
        hash-partitioned on ``salt`` (e.g. round-robin ``repartition(n)``) is
        passed through unchanged. Results stay correct — EnsureRequirements
        still inserts the exchange the cogroup needs — but that frame keeps
        its per-query exchange."""
        n = self._serving_partitions
        if n is None:
            return self.salted_filter(filter_df)
        key = id(filter_df)
        hit = self._filter_align_cache.pop(key, None)
        if hit is not None:
            self._filter_align_cache[key] = hit  # re-insert → most recent
            return hit.aligned
        fids = self.salted_filter(filter_df)
        try:
            cur = fids.rdd.getNumPartitions()
        except Exception:
            return fids
        if cur == n:
            # memoize the pass-through too: the partition-count probe above
            # is a per-frame plan conversion (~tens of ms of py4j) that a
            # correctly co-partitioned caller should pay once, not per query
            aligned, owned = fids, False
        else:
            aligned, owned = fids.repartition(n, "salt").persist(), True
        # eviction must not unpersist a caller's own cache (owned=False)
        self._filter_align_cache[key] = _AlignedFilter(filter_df, aligned, owned)
        if len(self._filter_align_cache) > self._filter_align_max:
            _, old = self._filter_align_cache.popitem(last=False)
            if old.owned:
                old.aligned.unpersist()
        return aligned

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

        sliced = self._per_slice(self._candidate_rows(terms), slice_topk,
                                 TOPK_DDL, filter_df)
        ranked = sliced.orderBy(F.desc("score"), F.asc("doc_id")).limit(fetch_k)
        if offset:
            ranked = ranked.offset(offset)
        return ranked

    def search_conj(self, query_text: str, k: int = 10, *, offset: int = 0,
                    filter_df: DataFrame | None = None) -> DataFrame:
        """Conjunctive (q.op=AND) BM25 top-k — see query/boolean.py."""
        from solrutils_spark.query.boolean import search_conj

        return search_conj(self, query_text, k, offset=offset,
                           filter_df=filter_df)

    def phrase_search(self, phrase_text: str, k: int = 10,
                      slop: int = 0) -> DataFrame:
        """Phrase query, exact or sloppy, scored from the positional
        sidecar — see query/boolean.py."""
        from solrutils_spark.query.boolean import phrase_search

        return phrase_search(self, phrase_text, k, slop=slop)

    def prefix_search(self, pattern: str, k: int = 10,
                      max_expansions: int = 1024) -> DataFrame:
        """Prefix/wildcard query (constant-score) — see query/boolean.py."""
        from solrutils_spark.query.boolean import prefix_search

        return prefix_search(self, pattern, k, max_expansions)

    def fuzzy_search(self, term: str, k: int = 10, max_edits: int = 1,
                     max_expansions: int = 50) -> DataFrame:
        """Fuzzy term query (constant-score) — see query/boolean.py."""
        from solrutils_spark.query.boolean import fuzzy_search

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
        from pyspark.sql import Window

        all_terms = sorted({t for _, q, _ in queries for t in query_terms(q)})
        dfs = self.term_dfs(all_terms)
        plans = []
        for qid, qtext, k in queries:
            terms = [t for t in query_terms(qtext) if dfs.get(t)]
            if terms:
                plans.append((qid, {t: self.idf(dfs[t]) for t in terms}, k))
        if not plans:
            return self.spark.createDataFrame(
                [], "query_id long, doc_id long, score double, rank int"
            )
        avgdl = float(self.stats["avgdl"])
        live_terms = sorted({t for _, idfs, _ in plans for t in idfs})
        BATCH_DDL = "query_id long, doc_id long, score double"

        def slice_batch(rows, allowed):
            return arrow_rows.batch_table(
                wand.topk_slice_batch(rows, plans, avgdl, allowed))

        sliced = self._per_slice(self._candidate_rows(live_terms), slice_batch,
                                 BATCH_DDL, filter_df)
        k_map = {qid: k for qid, _, k in plans}
        k_df = self.spark.createDataFrame(
            [(qid, k) for qid, k in k_map.items()], "query_id long, k int"
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            sliced.withColumn("rank", F.row_number().over(w))
            .join(F.broadcast(k_df), "query_id")
            .filter(F.col("rank") <= F.col("k"))
            .drop("k")
        )

    def _local_rows(self, terms: list[str]) -> list[arrow_rows.PostingRow]:
        """Candidate posting rows read directly with pyarrow (no Spark job):
        bucket-directory pruned, term-filtered, dataset handles cached — the
        shared driver-serving fetch under :meth:`search_local` and
        :meth:`search_conj_local`."""
        import pyarrow.dataset as ds

        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        rows: list[arrow_rows.PostingRow] = []
        for b in buckets:
            dset = self._dataset(f"index/bucket={b}")
            if dset is None:
                continue
            tbl = dset.to_table(columns=arrow_rows.POSTING_COLUMNS,
                                filter=ds.field("term").isin(terms))
            if tbl.num_rows:
                rows.extend(_rows_from_arrow(tbl))
        return rows

    def search_conj_local(self, query_text: str, k: int = 10, *,
                          offset: int = 0) -> list[tuple[int, float]]:
        """Driver-serving twin of :meth:`search_conj` — same pyarrow fetch as
        :meth:`search_local`, same block-skipping intersection kernel as the
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
        but candidate rows are read directly with pyarrow (bucket-directory
        pruned + term-filtered) and scored on the driver — no Spark job.

        Rank-identical to :meth:`search` by construction (shared kernel,
        shared stats); pinned by tests. Use for interactive/point queries —
        the distributed path remains the scale/batch road (a single query's
        candidate postings fit driver memory whenever the query is
        interactive; a query hot enough to break that belongs on the batch
        path).

        Hot path is pandas-free: candidate rows go pyarrow table →
        ``PostingRow`` records straight into the kernel (the DataFrame
        conversion + traversal measured ~45% of serving latency), and
        per-bucket dataset discovery (a filesystem listing) is cached — the
        on-disk index is immutable after build."""
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
        rows are already distinct."""
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

    def fetch(self, hits, fields: list[str] | None = None) -> list[dict]:
        """J3 — stored fields for collected hits.

        ``hits``: (doc_id, score) pairs (tuples or Rows) in rank order.
        Returns one dict per hit, in the same order, with keys ``doc_id``,
        ``score``, then ``fields`` (default repo, path, commit, lang).

        One pyarrow read of ``docs.parquet`` on the driver: only the
        requested columns, filtered to the hits' doc_ids, through a cached
        dataset handle. The doclen sidecar is read only when ``doc_len`` is
        requested (0 for a doc it lacks, as in :attr:`docs`). No Spark job:
        hits are ≤ start + rows rows already on the driver. The docs files
        come out of a hash join, so each spans the whole doc_id range: the
        predicate filters rows but prunes no file or row group."""
        import pyarrow.dataset as ds

        cols = fields or ["repo", "path", "commit", "lang"]
        hits = [(int(d), float(s)) for d, s in hits]
        if not hits:
            return []
        ids = ds.field("doc_id").isin([d for d, _ in hits])
        stored = [c for c in dict.fromkeys(cols)
                  if c not in ("doc_id", "score", "doc_len")]
        tbl = self._dataset("docs.parquet").to_table(
            columns=["doc_id", *stored], filter=ids)
        if "doc_len" in cols:
            lens = self._dataset("doclen").to_table(filter=ids)
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
