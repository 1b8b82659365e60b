"""A2-A5, A7 — facet execution over DataFrames.

The reference assembles Solr facet params (QueryBuilder.addFacet:106-133) and
Solr computes them; here each facet type maps to a Catalyst-native aggregate:

- field facet (A2):  groupBy(field).count() — hash agg, partial+final
- query facet (A3):  conditional count in ONE pass over the domain —
                     F.sum(when(pred,1)) — never a second scan
- range facet (A4):  groupBy(floor((col-start)/gap)) bucketing
- json facet  (A5):  terms/query/range + stats (sum/avg/min/max/unique) with
                     one nesting level via groupBy(parent, child)

Facet results are returned in Solr's legacy ``facet_counts`` shape so the
ported FacetResponseHandler (A7) normalizes them exactly like the reference.

Scale note: every facet here is a single shuffle-light aggregation over the
(already filtered) domain DataFrame; multiple query facets fold into one
``agg`` pass. Field facets cap buckets with ``limit`` (Solr default 100) via
orderBy+limit on the counted result — never a driver-side sort of all values.

Driver twin of the field facet (the executor's driver route): a
:class:`DocValues` column — dictionary codes indexed by doc_id, Solr's
DocValues / UnInvertedField — built once per field (a bounds check, then
one Arrow collect) and cached by the executor; :func:`docvalues_facet` counts a request's matched doc_ids
with ``np.bincount`` and orders the buckets exactly as :func:`field_facet`.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solrutils_spark.plans.operators import Facets
from solrutils_spark.query.qparser import filter_body

def strip_key(spec: str) -> str:
    """Drop a {!key=...} local-params prefix, leaving the raw expression."""
    return spec.split("}", 1)[1] if spec.startswith("{!") else spec


def field_facet(domain: DataFrame, spec: str, limit: int = 100, mincount: int = 0) -> dict:
    """facet.field entry → ordered {value: count} (Solr count-desc ordering)."""
    key = Facets.extract_key(spec)
    field = strip_key(spec)
    rows = (
        domain.groupBy(field)
        .agg(F.count("*").alias("count"))
        .filter(F.col("count") >= mincount)
        .orderBy(F.desc("count"), F.asc(field))
        .limit(limit)
        .collect()
    )
    return {"key": key, "counts": {r[field]: r["count"] for r in rows}}


# Spark column types whose Python values compare and order as Spark's
# groupBy/orderBy do (binary-collation strings, integers, booleans, dates);
# float NaN/-0.0 and collated strings are left to field_facet
_DOCVALUE_TYPES = frozenset({"string", "tinyint", "smallint", "int", "bigint",
                             "boolean", "date"})
ID_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})


class DocValues(NamedTuple):
    """One field's doc-values column. ``values``: the field's distinct
    values in Spark's ascending order (None first); ``codes[doc_id]``: the
    index of that doc's value, -1 for a doc_id the collection lacks.
    Memory: 4 B × (max doc_id + 1), plus the distinct values."""

    values: list
    codes: np.ndarray


def doc_values(collection: DataFrame, id_column: str, field: str, *,
               max_docs: int, max_values: int,
               max_bytes: int) -> DocValues | None:
    """``field``'s :class:`DocValues`, or None when the driver must not hold
    them or they cannot answer a field facet exactly as :func:`field_facet`
    would. Checked before anything is collected:

    - on the schema (no job): the id and the field are top-level columns
      of a type listed above;
    - by one aggregate job over the collection: at most ``max_docs`` rows,
      no null id, ids in [0, ``max_docs``) (so ``codes`` is ≤ 4 B ×
      ``max_docs``), at most ``max_values`` distinct values (null counts
      as one) and, for a string field, at most ``max_bytes`` of values.

    Only then one Spark job collects ``(id, field)`` as Arrow — transiently
    ≤ 12 B × ``max_docs`` of ids and string offsets plus ≤ ``max_bytes`` of
    values — which is dictionary-encoded on the driver. A duplicated id returns None too
    (:func:`field_facet` counts every row of it)."""
    import pyarrow.compute as pc

    types = dict(collection.dtypes)
    if types.get(id_column) not in ID_TYPES or types.get(field) not in _DOCVALUE_TYPES:
        return None
    size = F.sum(F.octet_length(field)) if types[field] == "string" else F.lit(0)
    n, n_ids, lo, hi, distinct, nbytes = collection.agg(
        F.count(F.lit(1)), F.count(id_column), F.min(id_column),
        F.max(id_column), F.count_distinct(field), size).first()
    if (n > max_docs or n_ids < n or distinct + 1 > max_values
            or (nbytes or 0) > max_bytes or (n and (lo < 0 or hi >= max_docs))):
        return None
    tbl = collection.select(id_column, field).toArrow()
    ids = tbl.column(0).to_numpy().astype(np.int64)
    if np.unique(ids).size < ids.size:
        return None
    enc = pc.dictionary_encode(tbl.column(1), null_encoding="encode").combine_chunks()
    order = pc.sort_indices(enc.dictionary, null_placement="at_start").to_numpy()
    rank = np.empty(order.size, np.int32)
    rank[order] = np.arange(order.size, dtype=np.int32)
    codes = np.full(hi + 1 if n else 0, -1, np.int32)
    codes[ids] = rank[enc.indices.to_numpy()]
    return DocValues(enc.dictionary.take(order).to_pylist(), codes)


def docvalues_facet(dv: DocValues, ids: np.ndarray, spec: str,
                    limit: int = 100, mincount: int = 0) -> dict:
    """:func:`field_facet` over the docs ``ids`` (distinct matched doc_ids)
    from the field's doc-values: ``np.bincount`` over their codes, buckets
    ordered by (count desc, value asc, nulls first) — a stable sort by count
    over codes that already follow Spark's value order."""
    if limit < 0:
        raise ValueError(f"facet.limit must be >= 0, got {limit}")
    codes = dv.codes[ids[ids < dv.codes.size]]
    counts = np.bincount(codes[codes >= 0], minlength=len(dv.values))
    keep = np.flatnonzero((counts > 0) & (counts >= mincount))
    order = keep[np.argsort(-counts[keep], kind="stable")][:limit]
    return {"key": Facets.extract_key(spec),
            "counts": {dv.values[c]: int(counts[c]) for c in order}}


def query_facets(domain: DataFrame, specs: list[str], reader=None,
                 id_column: str = "doc_id") -> dict[str, int]:
    """All facet.query entries. Each body goes through
    ``qparser.filter_body``: SQL-expressible specs count in ONE aggregation
    pass (conditional counts); Lucene-syntax specs (round 5) each count a
    boolean-executor match domain."""
    if not specs:
        return {}
    preds = []
    out: dict[str, int] = {}
    for s in specs:
        pred, qdomain = filter_body(domain, id_column, reader, strip_key(s))
        if pred is None:
            out[Facets.extract_key(s)] = qdomain.count()
        else:
            preds.append((s, pred))
    if preds:
        row = domain.agg(*[F.sum(F.when(p, 1).otherwise(0)).alias(f"q{i}")
                           for i, (_, p) in enumerate(preds)]).collect()[0]
        for i, (s, _) in enumerate(preds):
            out[Facets.extract_key(s)] = int(row[f"q{i}"] or 0)
    # response keys in original spec order (Solr echoes request order)
    return {Facets.extract_key(s): out[Facets.extract_key(s)] for s in specs}


def range_facet(
    domain: DataFrame, field: str, start: float, end: float, gap: float
) -> dict[str, int]:
    """facet.range → {bucket_start: count} over [start, end) with width gap."""
    col = F.col(field).cast("double")
    bucket = F.floor((col - F.lit(start)) / F.lit(gap))
    n_buckets = int((end - start) / gap + 0.999999)
    rows = (
        domain.filter((col >= start) & (col < end))
        .groupBy(bucket.alias("b"))
        .agg(F.count("*").alias("count"))
        .collect()
    )
    by_bucket = {int(r["b"]): r["count"] for r in rows}
    return {str(start + i * gap): by_bucket.get(i, 0) for i in range(n_buckets)}


_STAT_RE = re.compile(r"^(sum|avg|min|max|unique|count)\((\w+)\)$")


def _stat_expr(spec: str, alias: str):
    m = _STAT_RE.match(spec.strip())
    if not m:
        raise ValueError(f"unsupported stat: {spec}")
    fn, field = m.groups()
    col = F.col(field)
    if fn == "unique":
        return F.approx_count_distinct(col).alias(alias)
    return getattr(F, fn)(col).alias(alias)


def json_facet(domain: DataFrame, spec: dict, reader=None,
               id_column: str = "doc_id") -> dict:
    """A5 — JSON Facet API subset: terms/query buckets, stats, one nest level."""
    out: dict = {"count": domain.count()}
    for key, sub in spec.items():
        if isinstance(sub, str):
            out[key] = _scalar_stat(domain, sub)
        elif sub.get("type") == "terms":
            out[key] = _terms_facet(domain, sub)
        elif sub.get("type") == "query":
            qdomain = filter_body(domain, id_column, reader, sub["q"])[1]
            inner = {k: v for k, v in sub.items() if k not in ("type", "q")}
            sub_res = json_facet(qdomain, inner.get("facet", {}), reader,
                                 id_column)
            sub_res["count"] = qdomain.count()
            out[key] = sub_res
        elif sub.get("type") == "range":
            out[key] = {
                "buckets": [
                    {"val": float(k), "count": v}
                    for k, v in range_facet(
                        domain, sub["field"], sub["start"], sub["end"], sub["gap"]
                    ).items()
                ]
            }
    return out


def _scalar_stat(domain: DataFrame, spec: str):
    row = domain.agg(_stat_expr(spec, "v")).collect()[0]
    v = row["v"]
    return float(v) if v is not None else None


def _terms_facet(domain: DataFrame, sub: dict) -> dict:
    field = sub["field"]
    limit = int(sub.get("limit", 10))
    mincount = int(sub.get("mincount", 1))
    stats = {k: v for k, v in sub.items() if isinstance(v, str) and _STAT_RE.match(v.strip())}
    nested = sub.get("facet", {})
    nested_terms = {
        k: v for k, v in nested.items() if isinstance(v, dict) and v.get("type") == "terms"
    }
    nested_stats = {k: v for k, v in nested.items() if isinstance(v, str)}

    aggs = [F.count("*").alias("count")]
    aggs += [_stat_expr(v, k) for k, v in {**stats, **nested_stats}.items()]
    counted = (
        domain.groupBy(field)
        .agg(*aggs)
        .filter(F.col("count") >= mincount)
        .orderBy(F.desc("count"), F.asc(field))
        .limit(limit)
    )
    rows = counted.collect()
    buckets = []
    for r in rows:
        b: dict = {"val": r[field], "count": r["count"]}
        for k in {**stats, **nested_stats}:
            b[k] = r[k]
        buckets.append(b)

    # one nesting level: groupBy(parent, child) then stitch (SURVEY A5 plan)
    for nk, nspec in nested_terms.items():
        child = nspec["field"]
        nlimit = int(nspec.get("limit", 10))
        parent_vals = [b["val"] for b in buckets]
        sub_rows = (
            domain.filter(F.col(field).isin(parent_vals))
            .groupBy(field, child)
            .agg(F.count("*").alias("count"))
            .collect()
        )
        per_parent: dict = {}
        for r in sub_rows:
            per_parent.setdefault(r[field], []).append({"val": r[child], "count": r["count"]})
        for b in buckets:
            kids = sorted(
                per_parent.get(b["val"], []), key=lambda x: (-x["count"], str(x["val"]))
            )[:nlimit]
            b[nk] = {"buckets": kids}
    return {"buckets": buckets}
