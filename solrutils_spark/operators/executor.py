"""PlanExecutor — run a compiled QueryPlan against Spark (the Solr crossing).

This is the engine's equivalent of the reference handing the compiled
SolrQuery to Solr's SearchHandler (CustomSearchHandler.java:170-172): it
interprets the plan's param multimap into DataFrame operations and assembles
the response dict, then runs the response-handler chain
(CustomSearchHandler.java:174-179 semantics).

Param interpretation:

- ``q``        query TEXT for BM25 (IndexReader path) — '*:*'/absent = match-all
- ``fq``*      Spark SQL boolean expressions over the collection's columns
               (pushed down by Catalyst); when SQL rejects the string and
               it carries Lucene operator syntax, the boolean executor
               supplies the match domain instead — incl. text-term filters
               through the index (round 5). Non-scoring (P2), ANDed.
- ``sort``     'field dir[, field dir]' → orderBy (T1); default = relevance
- ``rows``/``start``  top-k + offset paging (T3)
- ``fl``       projection (P4) — column pruning
- ``facet.field`` / ``facet.query`` / ``facet.range`` + ``json.facet``  (A2-A5)
  computed over the FILTERED, UNPAGED domain (Solr semantics)

Two routes for a scored request (ranked or Lucene-syntax q), chosen by
:meth:`PlanExecutor._driver_route` before any job runs:

- **Driver route** — a ranked (non-Lucene) q, no ``sort``, no facet family
  but ``facet.field``, Σ df of the live query terms ≤
  :data:`DRIVER_POSTINGS_BUDGET` (the df lookup is the one the idf needs),
  and an index, collection, fq domain and facet fields within the
  :data:`DRIVER_DOCS_BUDGET` / ``DRIVER_FACET_*`` bounds.
  ``IndexReader.scored_local`` scores every match of q ∩ fq with the same
  per-salt kernel the distributed route runs (bit-identical scores), the
  page is a lexsort by (score desc, doc_id asc), numFound is the match
  count and each field facet counts the matches' doc-values codes
  (``facets.docvalues_facet``). The fq id array (one Spark action) and the
  field's doc-values (a bounds job, then one collect) are built on their
  first miss and cached; a warm request runs NO Spark job. Memory: ≤ the
  postings budget of decoded postings per request; per cached fq-set
  8 B × |fq domain| ≤ 8 MB; per faceted field 4 B × (max doc_id + 1)
  ≤ 4 MB plus ≤ 2^16 distinct values (and, while it is built, ≤ 64 MB of
  string values).
- **Distributed route** — every other scored request takes ONE scored pass:
  every (doc_id, score) matching q ∩ fq, persisted for the request (16
  bytes per match), from which it derives the page (ordered by ``sort``
  when given, over the matches joined to the collection), numFound and
  every facet family (Solr's getDocListAndSet). Jobs are labelled per phase
  (``setJobDescription``; the caller's label is restored and its job group
  left alone). For a ranked q + ``lang`` fq + ``lang`` field facet over a
  serving-cached 1,500-doc, 4-salt index (perfbench ``json_request`` shape,
  4-core host) it runs 8 jobs —

  - ``search: scored domain`` (2): the cache materialization, the request's
    one Python-kernel stage (cogroup of the cached postings with the cached
    filter ids), then the top-(start+rows) TakeOrderedAndProject over it;
  - ``search: numFound`` (2): ``count()`` over the cached matches;
  - ``search: facets`` (4): the broadcasts of the doclen sidecar (the docs
    table joins it) and of the cached matches, then the two-stage aggregate.

  A warm Lucene q (perfbench's traced ``+a "b c" -d`` probe, same fq and
  facet) runs 9: 3 ``search: scored domain`` jobs around the tree's one
  kernel stage, then the same 2 + 4. The reader's first phrase query also
  runs an unlabelled listing of the positional index, which it then keeps.

On both routes stored fields for the page come from a driver-side pyarrow
read (``IndexReader.fetch``, no job). Request p50 on that host and index,
median over seeds (perfbench ``json_request``): 1,120 ms on the
distributed route (10 seeds; the Python job costs ~250-350 ms of it, each
JVM job ~10-100 ms), 3.6 ms on the driver route (11 seeds, the reader's
bucket postings resident). At the budget (Σ df = 2^18 on a
100k-doc index) a driver-route request took ~110 ms and a 7.3 MB peak of
traced allocations.

Unscored requests (``*:*``) persist the filtered domain instead when they
facet, and read numFound and every facet family from it.

The executor's driver-side caches (filterCache entries, doc-values) sit
behind one lock, so one executor serves requests from several threads; no
Spark job runs while it is held.
"""

from __future__ import annotations

import logging
import threading
import time
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LOG = logging.getLogger("solrutils_spark.search")

from solrutils_spark.operators.facets import (
    ID_TYPES,
    DocValues,
    strip_key,
    doc_values,
    docvalues_facet,
    field_facet,
    json_facet,
    query_facets,
    range_facet,
)
from solrutils_spark.plans.model import SearchModel
from solrutils_spark.plans.operators import Facets
from solrutils_spark.plans.plan import QueryPlan, parse_json_facet
from solrutils_spark.query.arrow_rows import TOPK_DDL
from solrutils_spark.query.engine import IndexReader
from solrutils_spark.query.exact import query_terms
from solrutils_spark.session import job_label

# Memory bounds of the driver route (not tuning options). Largest Σ df
# over a ranked request's live terms that it scores: the postings one
# request decodes in driver memory (~40 B each while scoring, so ≤ ~10 MB).
DRIVER_POSTINGS_BUDGET = 1 << 18
# Largest index (n_docs) and collection (rows, and doc_id + 1) it serves:
# each cached fq id array is ≤ 8 B × this (8 MB), each doc-values column
# ≤ 4 B × this (4 MB); no larger id array or column is ever collected.
DRIVER_DOCS_BUDGET = 1 << 20
# Largest facet field it serves from doc-values: distinct values (null is
# one) and, for strings, bytes of values over the collection (the transient
# size of the doc-values collect).
DRIVER_FACET_VALUES = 1 << 16
DRIVER_FACET_BYTES = 1 << 26


class _FilterEntry:
    """One filterCache entry: the fq-set's doc_ids in the form each route
    reads, each filled on its route's first miss. ``frame``: salted,
    co-partitioned with the serving cache and persisted (distributed
    route). ``ids``: sorted distinct int64 array, 8 B per doc of the fq
    domain (driver route), or False when that domain has more than
    ``DRIVER_DOCS_BUDGET`` rows (its requests take the distributed
    route)."""

    __slots__ = ("frame", "ids")

    def __init__(self) -> None:
        self.frame: DataFrame | None = None
        self.ids: np.ndarray | bool | None = None


class _DriverRoute(NamedTuple):
    """A request the driver route serves: ``allowed`` is its fq id array
    (None: no fq)."""

    allowed: np.ndarray | None


class PlanExecutor:
    def __init__(
        self,
        collection: DataFrame,
        reader: IndexReader | None = None,
        id_column: str = "doc_id",
        filter_cache_size: int = 32,
    ):
        self.collection = collection
        self.reader = reader
        self.id_column = id_column
        # Solr filterCache twin: fq expressions recur across requests, so the
        # filtered doc_id domain is kept per distinct fq-set and reused (Solr
        # caches the DocSet per fq; BulkUpdateHandler.java:57-61 leans on
        # it). LRU-bounded (pop/re-insert); eviction unpersists the frame.
        # Memory: ≤ filter_cache_size × 8 B × |fq domain| of id arrays,
        # |fq domain| ≤ DRIVER_DOCS_BUDGET.
        self.filter_cache_size = filter_cache_size
        self._filter_cache: dict[tuple[str, ...], _FilterEntry] = {}
        # facet field → DocValues (None: the field is served by Spark);
        # 4 B × (max doc_id + 1) ≤ 4 B × DRIVER_DOCS_BUDGET per field
        self._doc_values: dict[str, DocValues | None] = {}
        # one lock for every driver-side cache above: requests may come
        # from several threads. Held only to look up or store an entry;
        # entries are built outside it (a race builds one twice).
        self._lock = threading.Lock()

    # -- public API ----------------------------------------------------------
    def search(self, model: SearchModel, json_query: dict) -> dict:
        """Full lifecycle: compile JSON → plan → execute → response dict.

        Appends ``RTime`` (total request wall ms) to the response header and
        emits the reference's ``[reporting] query numFound time`` log record
        (CustomSearchHandler.java:111,186,256-258) — consumable by
        :mod:`solrutils_spark.operators.stats_report`.
        """
        t0 = time.perf_counter()
        plan = QueryPlan(searcher=self.execute)
        model.build(plan, json_query)
        response = self.execute(plan)
        rtime = int(1000 * (time.perf_counter() - t0))
        response.setdefault("responseHeader", {})["RTime"] = rtime
        q = plan.get_param("q", "")
        num_found = response.get("response", {}).get("numFound", 0)
        LOG.info(
            '[reporting] %s query="%s" numFound=%d time=%d',
            time.strftime("%Y-%m-%dT%H:%M:%S"), q, num_found, rtime,
        )
        return response

    def execute(self, plan: QueryPlan) -> dict:
        q = plan.get_param("q")
        rows = int(float(plan.get_param("rows", "10")))
        start = int(float(plan.get_param("start", "0")))
        scored = self.reader is not None and q not in (None, "", "*:*")

        need_facets = bool(
            plan.get_params("facet.field")
            or plan.get_params("facet.query")
            or plan.get_params("facet.range")
            or plan.get_param("json.facet")
        )
        route = self._driver_route(plan, q) if scored else None
        if route is not None:
            response = self._driver_response(plan, q, start, rows,
                                              route.allowed, need_facets)
            for handler in plan.response_handlers:
                handler.process(plan, response)
            return response

        if scored:
            # ONE scored pass per request: every (doc_id, score) matching
            # q ∩ fq, persisted (16 bytes per match) for the life of the
            # request; the ranked page, numFound and the facet domain all
            # read it (Solr's getDocListAndSet: the page and the DocSet from
            # one collector pass; SearchOp.java:133-148 holds one searcher
            # snapshot per request). The scored frame already carries the
            # fq, so facets join it to the unfiltered collection and never
            # re-evaluate the filter.
            persisted = self._scored(plan, q).persist()
            ranked = self._ranked(persisted, plan)
            facet_domain = self.collection.join(
                persisted.select(F.col("doc_id").alias(self.id_column)),
                self.id_column, "left_semi",
            ) if need_facets else None
        else:
            domain = self._filtered_domain(plan)
            ordered = self._sorted(domain, plan)
            hits = ordered.offset(start).limit(rows) if start else ordered.limit(rows)
            fl = self._fl(plan)
            if fl is None and "content" in hits.columns and len(hits.columns) > 1:
                # default response omits the document body — the scored path's
                # fetch() default does the same; callers get it back via fl.
                # Keeps content bytes off the driver collect.
                fl = [c for c in hits.columns if c != "content"]
            if fl:
                hits = hits.select(*fl)
            # numFound and every facet family act on one persisted domain
            persisted = domain.persist() if need_facets else None
            facet_domain = persisted if need_facets else domain

        try:
            if scored:
                # the first action materializes the cache
                with self._job_label("search: scored domain"):
                    top = ranked.limit(start + rows).collect()
                docs = self.reader.fetch(top[start:], self._fl(plan))
                with self._job_label("search: numFound"):
                    num_found = persisted.count()
            else:
                with self._job_label("search: hits"):
                    docs = [r.asDict(recursive=True) for r in hits.collect()]
                with self._job_label("search: numFound"):
                    num_found = facet_domain.count()
            response = self._response(plan, num_found, start, docs)
            if need_facets:
                with self._job_label("search: facets"):
                    self._add_facets(plan, facet_domain, response)
        finally:
            if persisted is not None:
                persisted.unpersist()
        for handler in plan.response_handlers:
            handler.process(plan, response)
        return response

    def _driver_route(self, plan: QueryPlan, q: str) -> _DriverRoute | None:
        """The scored request's driver-route inputs, or None when it takes
        the distributed route. It runs on the driver when ``q`` is not
        Lucene syntax, there is no ``sort``, every facet family is
        ``facet.field``, the index has at most ``DRIVER_DOCS_BUDGET`` docs,
        the id column is an integer, the Σ df of the live query terms is at
        most ``DRIVER_POSTINGS_BUDGET``, every facet field has doc-values
        within the ``DRIVER_FACET_*`` bounds and the fq domain has at most
        ``DRIVER_DOCS_BUDGET`` rows. Up to the df check nothing runs a job
        (the df lookup is the one the idf needs); a field's doc-values and
        an fq-set's id array cost Spark jobs the first time a request asks
        for them, and their bounds are checked before anything is
        collected."""
        from solrutils_spark.query.qparser import is_lucene_syntax

        if (is_lucene_syntax(q) or plan.get_param("sort")
                or plan.get_params("facet.query")
                or plan.get_params("facet.range")
                or plan.get_param("json.facet")
                or self.reader.stats["n_docs"] > DRIVER_DOCS_BUDGET
                or dict(self.collection.dtypes).get(self.id_column) not in ID_TYPES):
            return None
        live = self.reader.term_dfs(query_terms(q))
        if sum(live.values()) > DRIVER_POSTINGS_BUDGET:
            return None
        if any(self._field_values(strip_key(spec)) is None
               for spec in plan.get_params("facet.field") or []):
            return None
        if not plan.get_params("fq"):
            return _DriverRoute(None)
        allowed = self._cached_filter_array(plan)
        return None if allowed is None else _DriverRoute(allowed)

    def _driver_response(self, plan: QueryPlan, q: str, start: int, rows: int,
                         allowed: np.ndarray | None, need_facets: bool) -> dict:
        """The driver route: the matches from ``IndexReader.scored_local``
        (∩ the fq id array ``allowed``), the page by (score desc, doc_id
        asc), numFound = the match count, field facets from doc-values. A
        warm request (fq ids and doc-values cached) runs no Spark job."""
        ids, scores = self.reader.scored_local(q, allowed)
        top = np.lexsort((ids, -scores))[start:start + rows]
        docs = self.reader.fetch(zip(ids[top], scores[top]), self._fl(plan))
        response = self._response(plan, int(ids.size), start, docs)
        if need_facets:
            self._add_facets(plan, ids, response)
        return response

    @staticmethod
    def _response(plan: QueryPlan, num_found: int, start: int,
                  docs: list[dict]) -> dict:
        return {
            "responseHeader": {"params": {k: v for k, v in plan.params.items()}},
            "response": {"numFound": num_found, "start": start, "docs": docs},
        }

    # -- internals -----------------------------------------------------------
    def _fl(self, plan: QueryPlan) -> list[str] | None:
        fl = plan.get_param("fl")
        return [f.strip() for f in fl.split(",")] if fl else None

    def _filtered_domain(self, plan: QueryPlan) -> DataFrame:
        """The collection restricted by every fq body (ANDed), each through
        ``qparser.filter_body``: Spark SQL first, the boolean executor when
        SQL rejects a Lucene-syntax body."""
        from solrutils_spark.query.qparser import filter_body

        df = self.collection
        for fq in plan.get_params("fq") or []:
            df = filter_body(df, self.id_column, self.reader, fq)[1]
        return df

    def _filter_entry(self, plan: QueryPlan) -> _FilterEntry:
        """The plan's fq-set entry, made most-recently-used (created on a
        miss, evicting the least-recently-used one at capacity). The caller
        holds ``self._lock``."""
        key = tuple(sorted(plan.get_params("fq") or []))
        entry = self._filter_cache.pop(key, None)
        if entry is None:
            entry = _FilterEntry()
            if len(self._filter_cache) >= self.filter_cache_size:
                oldest = next(iter(self._filter_cache))  # least-recently-used
                evicted = self._filter_cache.pop(oldest)
                if evicted.frame is not None:
                    evicted.frame.unpersist()
        self._filter_cache[key] = entry  # re-insert → most-recently-used
        return entry

    def _cached_filter_ids(self, plan: QueryPlan) -> DataFrame:
        """Persisted doc_id domain for the plan's fq set (filterCache twin):
        ``IndexReader.salted_filter`` of the filtered ids, salted and
        co-partitioned with the serving cache, so repeated scored+fq
        requests run no filter-side exchange (the Solr analog keeps cached
        DocSets in index order). The frame is built outside the lock (a
        Lucene fq runs jobs); the first thread to store it wins, and only
        the stored frame is persisted."""
        with self._lock:
            frame = self._filter_entry(plan).frame
        if frame is not None:
            return frame
        ids = self.reader.salted_filter(
            self._filtered_domain(plan).select(self.id_column))
        with self._lock:
            entry = self._filter_entry(plan)
            if entry.frame is None:
                entry.frame = ids.persist()  # lazy: no job under the lock
            return entry.frame

    def _cached_filter_array(self, plan: QueryPlan) -> np.ndarray | None:
        """The plan's fq-set as a sorted distinct int64 doc_id array (the
        driver route's filterCache entry), or None when the fq domain has
        more than ``DRIVER_DOCS_BUDGET`` rows. One Spark job on the first
        miss, run outside the lock, that collects at most budget + 1 ids;
        none after."""
        with self._lock:
            ids = self._filter_entry(plan).ids
        if ids is None:
            with self._job_label("search: filter ids"):
                col = (self._filtered_domain(plan).select(self.id_column)
                       .limit(DRIVER_DOCS_BUDGET + 1).toArrow().column(0))
            ids = (np.unique(col.drop_null().to_numpy().astype(np.int64))
                   if len(col) <= DRIVER_DOCS_BUDGET else False)
            with self._lock:
                self._filter_entry(plan).ids = ids
        return None if ids is False else ids

    def _field_values(self, field: str) -> DocValues | None:
        """``field``'s cached doc-values (None: Spark serves its facets),
        built outside the lock by the first request that facets on it
        (``facets.doc_values``: a bounds job, then one collect within
        the ``DRIVER_DOCS_BUDGET`` / ``DRIVER_FACET_*`` bounds)."""
        with self._lock:
            if field in self._doc_values:
                return self._doc_values[field]
        with self._job_label("search: doc values"):
            dv = doc_values(self.collection, self.id_column, field,
                            max_docs=DRIVER_DOCS_BUDGET,
                            max_values=DRIVER_FACET_VALUES,
                            max_bytes=DRIVER_FACET_BYTES)
        with self._lock:
            return self._doc_values.setdefault(field, dv)

    def _job_label(self, label: str):
        """Label the Spark jobs of the block; restore the caller's label."""
        return job_label(self.collection.sparkSession, label)

    def _scored(self, plan: QueryPlan, q: str) -> DataFrame:
        """(doc_id, score) of every doc matching q AND all filters.

        fq filters ride along as the cached filter-id frame: the reader
        cogroups it with the postings by salt slice, so the filter never
        materializes on the driver (BulkUpdateHandler.java:57-61 DocSet
        semantics, distributed). A q in Lucene operator syntax — the
        reference's templates can render it into q (Query.java:10-31) —
        runs through the boolean executor; plain term queries stay on the
        ranked path (identical BM25 contributions, faster engine)."""
        from solrutils_spark.query.qparser import boolean_scored, is_lucene_syntax

        filter_df = self._cached_filter_ids(plan) if plan.get_params("fq") else None
        if not is_lucene_syntax(q):
            return self.reader.scored_domain(q, filter_df=filter_df)
        bscored = boolean_scored(self.reader, q, filter_df=filter_df)
        if bscored is None:
            return self.reader.spark.createDataFrame([], TOPK_DDL)
        return bscored

    def _ranked(self, matches: DataFrame, plan: QueryPlan) -> DataFrame:
        """The scored request's (doc_id, score) order over ``matches``: by
        ``sort`` when given — over the matches joined to the collection, so
        ``score`` and every collection column are sort keys, ties by id
        ascending — else by (score desc, doc_id asc)."""
        if not plan.get_param("sort"):
            return matches.orderBy(F.desc("score"), F.asc("doc_id"))
        joined = self.collection.join(
            matches.withColumnRenamed("doc_id", self.id_column), self.id_column)
        return self._sorted(joined, plan, F.asc(self.id_column)).select(
            F.col(self.id_column).alias("doc_id"), "score")

    def _sorted(self, domain: DataFrame, plan: QueryPlan, *ties) -> DataFrame:
        sort = plan.get_param("sort")
        if not sort:
            return domain
        exprs = []
        for part in sort.split(","):
            part = part.strip()
            if not part:
                continue
            toks = part.rsplit(" ", 1)
            if len(toks) == 2 and toks[1].lower() in ("asc", "desc"):
                col = F.expr(toks[0])
                exprs.append(col.desc() if toks[1].lower() == "desc" else col.asc())
            else:
                exprs.append(F.expr(part).asc())
        return domain.orderBy(*exprs, *ties)

    def _add_facets(self, plan: QueryPlan, domain, response: dict) -> None:
        """Every facet family over ``domain``: the facet-domain DataFrame,
        or on the driver route the matched doc_id array (``facet.field``
        only, from doc-values)."""
        facet_fields: dict = {}
        for spec in plan.get_params("facet.field") or []:
            limit = int(plan.get_param("facet.limit", "100"))
            mincount = int(plan.get_param("facet.mincount", "0"))
            if isinstance(domain, np.ndarray):
                res = docvalues_facet(self._field_values(strip_key(spec)),
                                      domain, spec, limit, mincount)
            else:
                res = field_facet(domain, spec, limit=limit, mincount=mincount)
            facet_fields[res["key"]] = res["counts"]
        specs = plan.get_params("facet.query")
        facet_queries = query_facets(domain, specs, reader=self.reader,
                                     id_column=self.id_column) if specs else {}
        facet_ranges: dict = {}
        for spec in plan.get_params("facet.range") or []:
            field, key = strip_key(spec), Facets.extract_key(spec)
            start = float(plan.get_param(f"f.{field}.facet.range.start", plan.get_param("facet.range.start", "0")))
            end = float(plan.get_param(f"f.{field}.facet.range.end", plan.get_param("facet.range.end", "0")))
            gap = float(plan.get_param(f"f.{field}.facet.range.gap", plan.get_param("facet.range.gap", "1")))
            facet_ranges[key] = range_facet(domain, field, start, end, gap)
        if facet_fields or facet_queries or facet_ranges:
            response["facet_counts"] = {
                "facet_fields": facet_fields,
                "facet_queries": facet_queries,
                "facet_ranges": facet_ranges,
            }
        jf = parse_json_facet(plan)
        if jf:
            response["facets"] = json_facet(domain, jf, reader=self.reader,
                                            id_column=self.id_column)
