"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 query over the sf0.001 documents table.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2 (facets A2-A5/A9, sorts/paging T1/T3, filters P2-P6, joins
J1-J3, set ops, conversions C-series, rerank T4, split T5, upsert E9, BM25
E5) plus the training-data pipeline operators (dedup exact/minhash/simhash,
ANN cosine, text quality/tokens/fingerprint). Spark/DuckDB column names are
aliased identically; float outputs are rounded in BOTH engines so the
driver's value-hash compares stably.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["vector", "join", "spark"]  # present in documents vocab
ANN_K = 10
BM25_K = 20


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: disjunctive BM25 top-20 over documents (simple analyzer)."""
    return _bm25_topk(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# shared BM25 (simple analyzer twin of the engine path; the full code-aware
# analyzer chain is pinned by tests/test_bm25_parity.py against the
# pure-Python oracle — DuckDB can't express camelCase splitting sanely)
# --------------------------------------------------------------------------

def _bm25_topk(
    spark: SparkSession, sf_dir: str, filter_mod: int | None = None,
    require_all: bool = False,
) -> DataFrame:
    """``filter_mod``: optional fq twin — restrict the RANKED domain to
    doc_id % filter_mod == 0 AFTER scoring. P2 semantics (SURVEY §2,
    BulkUpdateHandler.java:59 setIsFilter): the filter never touches
    df/avgdl/idf — excluded docs still count toward corpus statistics,
    exactly like a Lucene filter clause. The engine-path twin
    (search/search_batch with filter_df) is rank-identity-pinned in pytest;
    this exact-DataFrame twin makes the semantics oracle-checkable."""
    docs = _t(spark, sf_dir, "documents")
    # ONE tokenization per pass: the token array is materialized in its own
    # projection (multiple downstream references keep CollapseProject from
    # inlining the split — the same plan rule operators/dedup.py pins for
    # shingles). Round 6 shape: stats (n, avgdl, per-term df) ride ONE agg
    # over the token arrays, and per-term tf is a higher-order array count —
    # the former explode-every-token → groupBy(doc_id, term) → join(dl)
    # chain shuffled ~55 tokens/doc to score a 3-term query (2 exchanges +
    # a re-tokenize for dl; 6.6 s → ~2 s at sf1.0).
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: F.length(t) >= 2,
        ).alias("toks"),
    )
    # Tokenize ONCE: the stats agg below and the scoring pass are two
    # actions over the same token arrays — without a materialization each
    # re-runs the split+filter over the full corpus (the tokenize is most
    # of the query). Eager localCheckpoint holds the arrays MEMORY_AND_DISK
    # for the query's lifetime; the ContextCleaner frees the blocks when the
    # result goes out of scope (no CacheManager entry, nothing persists
    # across runs — every invocation recomputes from the parquet input).
    # Measured at 50k docs/local[32]: 3.10-3.18 s → 1.87-1.96 s, rows
    # identical at sf0.1 and 50k.
    toks = toks.localCheckpoint(eager=True)
    stats = toks.agg(
        F.count("*").alias("n"),
        F.avg(F.size("toks")).alias("avgdl"),
        *[
            F.sum(F.array_contains("toks", t).cast("int")).alias(f"df{i}")
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])
    # df = docs containing the term (== the former tf-row count per term).
    # idf stays a JVM log expression over literals (constant-folded by the
    # same java.lang.Math.log the per-row expression used — bit-identical).
    t_col = F.col("toks")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.size(t_col) / F.lit(avgdl)
    )
    def _tf(term):
        # single-arg lambda (a 2-arg lambda would be read as (element, index))
        return F.size(F.filter(t_col, lambda x: x == term))

    tfs = [_tf(term) for term in BM25_QUERY_TERMS]
    idfs = [
        F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.lit(int(stats[f"df{i}"])) + F.lit(0.5))
            / (F.lit(int(stats[f"df{i}"])) + F.lit(0.5))
        )
        for i in range(len(BM25_QUERY_TERMS))
    ]
    # absent terms contribute exactly 0.0 (idf·0/(0+norm)); adding 0.0 leaves
    # the double unchanged, so the fixed-order sum equals the former
    # groupBy-sum of present-term contributions
    contrib = tfs[0] * idfs[0] / (tfs[0] + norm)
    for tf_c, idf_c in zip(tfs[1:], idfs[1:]):
        contrib = contrib + tf_c * idf_c / (tf_c + norm)
    domain = tfs[0] > 0
    for tf_c in tfs[1:]:
        domain = (domain & (tf_c > 0)) if require_all else (domain | (tf_c > 0))
    scored = toks.filter(domain).select(
        "doc_id", F.round(contrib, 6).alias("score")
    )
    from pyspark.sql import Window

    if filter_mod is not None:  # fq AFTER scoring — stats untouched
        scored = scored.filter(F.col("doc_id") % filter_mod == 0)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"), "rank")
    )


def _bm25_oracle_sql(domain_where: str = "") -> str:
    """DuckDB BM25 oracle; ``domain_where`` restricts the RANKED domain only
    (P2 fq semantics — stats CTEs untouched)."""
    return _BM25_ORACLE.replace(
        "FROM scored\n)", f"FROM scored {domain_where}\n)"
    )


_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> length(t) >= 2) AS toks
  FROM documents
), dl AS (
  SELECT doc_id, len(toks) AS dl FROM toks
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
  WHERE term IN ('vector', 'join', 'spark')
  GROUP BY doc_id, term
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
           * tf.tf / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
         ), 6) AS score
  FROM tf JOIN dft USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id
), ranked AS (
  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, round(score, 4) AS score, rank FROM ranked WHERE rank <= {BM25_K}
"""


# --------------------------------------------------------------------------
# relational / facet / sort / filter / join operators (SURVEY §2)
# --------------------------------------------------------------------------

def q_facet_field(spark, sf_dir):
    """A2 — field facet: value→count buckets, count desc."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("val"))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("val"))
    )


def q_facet_query(spark, sf_dir):
    """A3 — query facets: conditional counts in one pass."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).alias("big_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("finished"),
        F.count("*").alias("total"),
    )


def q_facet_range(spark, sf_dir):
    """A4 — range facet: numeric bucketing of events.value."""
    e = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(10.0)) * 10.0
    return (
        e.filter((F.col("value") >= 0) & (F.col("value") < 100))
        .groupBy(bucket.alias("bucket_start"))
        .agg(F.count("*").alias("count"))
        .orderBy("bucket_start")
    )


def q_facet_date(spark, sf_dir):
    """A4 — date range facet: daily tumbling buckets over events."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("count"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("day")
    )


def q_json_facet_nested(spark, sf_dir):
    """A5 — nested terms facet: groupBy(parent, child) with stats."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_returnflag").alias("parent"), F.col("l_linestatus").alias("child")
        )
        .agg(
            F.count("*").alias("count"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy("parent", "child")
    )


def q_rollup(spark, sf_dir):
    """A5 — grouping-sets/rollup (JSON facet nesting generalization)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("count"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "count",
        )
        .orderBy("rf", "ls")
    )


def q_sort_paging(spark, sf_dir):
    """T1/T3 — mapped sort + offset/limit paging."""
    p = _t(spark, sf_dir, "part")
    return (
        p.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice")
        .offset(10)
        .limit(25)
    )


def q_topn_events(spark, sf_dir):
    """A9 — log-stats style top-N with min-count threshold."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("event_type").alias("q"))
        .agg(F.count("*").alias("count"), F.round(F.avg("value"), 4).alias("avg_value"))
        .filter(F.col("count") >= 10)
        .orderBy(F.desc("count"), F.asc("q"))
        .limit(50)
    )


def q_filter_contains(spark, sf_dir):
    """P5 — substring guard on a stored field."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").contains("vector"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def q_must_not(spark, sf_dir):
    """P6 — MUST_NOT exclusion (anti filter on id set + predicate)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(~F.col("lang").isin("en", "de"))
        .filter(~F.col("doc_id").isin(1, 2, 3, 4, 5))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_semi_join(spark, sf_dir):
    """J1 — decorrelated IN-subquery as broadcast left-semi join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    nation5 = c.filter(F.col("c_nationkey") == 5).select("c_custkey")
    return (
        o.join(F.broadcast(nation5), o.o_custkey == nation5.c_custkey, "left_semi")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("count"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .orderBy("status")
    )


def q_anti_join(spark, sf_dir):
    """Set-op except: customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
        .limit(100)
    )


def q_doc_fetch(spark, sf_dir):
    """J3 — top-k ids → broadcast join for stored fields."""
    d = _t(spark, sf_dir, "documents")
    topk = d.orderBy(F.desc("n_chars"), F.asc("doc_id")).select("doc_id").limit(10)
    return (
        d.join(F.broadcast(topk), "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )


def q_upsert_latest(spark, sf_dir):
    """E9 — unique-key upsert: latest order per customer (window row_number)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
        .limit(200)
    )


def q_conversions(spark, sf_dir):
    """C1-C11 as Column exprs: case, substr, default, affixes, replace."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("upper_name"),
        F.lower(F.col("p_brand")).alias("lower_brand"),
        F.substring(F.col("p_name"), 1, 8).alias("name8"),
        F.coalesce(F.col("p_brand"), F.lit("none")).alias("brand_or_default"),
        F.concat(F.lit("("), F.col("p_type"), F.lit(")")).alias("wrapped_type"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("devoweled"),
        F.col("p_retailprice").cast("int").cast("string").alias("int_price"),
    ).orderBy("p_partkey").limit(500)


def q_tag_id(spark, sf_dir):
    """C20 — toTagId normalization as Column exprs (UtilTest semantics)."""
    p = _t(spark, sf_dir, "part")
    illegal = r'[".%/\\:*?\[\]|\n\t\r ]'
    return p.select(
        "p_partkey",
        F.regexp_replace(F.lower(F.col("p_name")), illegal, "-").alias("tag_id"),
    ).orderBy("p_partkey").limit(500)


def q_rerank_elevation(spark, sf_dir):
    """T4 — elevation: forced ids to top via priority column."""
    d = _t(spark, sf_dir, "documents")
    elevated = [7, 3, 11]
    pr = F.when(F.col("doc_id") == 7, 0).when(F.col("doc_id") == 3, 1).when(
        F.col("doc_id") == 11, 2
    ).otherwise(3)
    return (
        d.select("doc_id", "n_chars", pr.alias("priority"))
        .orderBy("priority", F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
    )


def q_split(spark, sf_dir):
    """T5 — one pass, two complementary ranked lists (flagged union)."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", "n_chars")
    main = base.filter(F.col("lang") != "en").orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(5).withColumn("list", F.lit("main"))
    split = base.filter(F.col("lang") == "en").orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(5).withColumn("list", F.lit("split"))
    return main.unionByName(split)


def q_bm25_topk(spark, sf_dir):
    """E5 — BM25 top-20, simple analyzer (full chain pinned by pytest)."""
    return _bm25_topk(spark, sf_dir)


def q_bm25_filtered(spark, sf_dir):
    """P2+E5 — scored query under an fq: domain restricted to
    doc_id % 3 == 0, corpus stats untouched (filters never score)."""
    return _bm25_topk(spark, sf_dir, filter_mod=3)


def q_bm25_conj(spark, sf_dir):
    """Boolean MUST / q.op=AND twin (query/boolean.py::search_conj): a doc
    must contain ALL query terms; the score is the same BM25 sum restricted
    to that conjunctive domain. The engine's block-skipping intersection
    kernel is rank-identity-pinned in tests/test_boolean.py; this exact
    DataFrame twin makes the semantics oracle-checkable."""
    return _bm25_topk(spark, sf_dir, require_all=True)


PHRASE_TERMS = ["customer", "join"]  # adjacent pair realized at sf0.01


def q_phrase(spark, sf_dir):
    """Exact-phrase query twin (query/qparser.py::phrase_search), Lucene
    PhraseQuery scoring: tf = phrase frequency (adjacent-occurrence count),
    idf = Σ idf(term) over the phrase's unique terms, BM25 tf-normalization.
    The token array is materialized in its own projection before the
    sliding-window lambda (the PLANS.md §17 quadratic-inline-Column trap:
    each position probe must re-reference a column, not re-run the split)."""
    w0, w1 = PHRASE_TERMS
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: F.length(t) >= 2,
        ).alias("toks"),
    )
    # tokenize once for the stats agg + scoring pass (same rationale and
    # lifetime as _bm25_topk's checkpoint above)
    toks = toks.localCheckpoint(eager=True)
    stats = toks.agg(
        F.count("*").alias("n"),
        F.avg(F.size("toks")).alias("avgdl"),
        F.sum(F.array_contains("toks", w0).cast("int")).alias("df0"),
        F.sum(F.array_contains("toks", w1).cast("int")).alias("df1"),
    ).collect()[0]
    n, avgdl = int(stats["n"]), float(stats["avgdl"])
    import math as _math

    idf_sum = sum(
        _math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for df in (int(stats["df0"]), int(stats["df1"]))
    )
    t = F.col("toks")
    pf_expr = F.when(
        F.size(t) >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: (F.element_at(t, i) == w0)
                & (F.element_at(t, i + 1) == w1),
            )
        ),
    ).otherwise(F.lit(0))
    scored = (
        toks.withColumn("pf", pf_expr)
        .filter(F.col("pf") > 0)
        .select(
            "doc_id",
            F.round(
                F.lit(idf_sum)
                * F.col("pf")
                / (
                    F.col("pf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.size(t) / F.lit(avgdl)
                    )
                ),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"), "rank")
    )


def q_prefix_query(spark, sf_dir):
    """Prefix/wildcard query twin (query/qparser.py::prefix_search):
    constant-score docs containing ≥1 term starting with 's' (Lucene's
    CONSTANT_SCORE multi-term rewrite — no BM25 ranking), index order."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda t: F.length(t) >= 2,
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.exists("toks", lambda t: t.startswith("s")))
        .select("doc_id", F.lit(1.0).alias("score"))
        .orderBy("doc_id")
        .limit(50)
    )


def q_fuzzy_query(spark, sf_dir):
    """Fuzzy query twin (query/qparser.py::fuzzy_search): constant-score
    docs containing ≥1 term within Levenshtein 2 of 'sort' (matches 'sort'
    and 'part' in the sf vocab) — both engines run the classic unweighted
    edit distance, so the doc sets agree exactly."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda t: F.length(t) >= 2,
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.exists("toks", lambda t: F.levenshtein(t, F.lit("sort")) <= 2))
        .select("doc_id", F.lit(1.0).alias("score"))
        .orderBy("doc_id")
        .limit(50)
    )


def q_boolean_query(spark, sf_dir):
    """Boolean composition twin for the Lucene-syntax executor
    (query/qparser.py::execute_boolean, pinned engine-side by
    tests/test_qparser.py): the query ``+customer "table hash" -window`` —
    MUST term (BM25 contribution), SHOULD phrase (PhraseQuery score, adds
    where it matches), MUST_NOT exclusion. Domain = contains 'customer' ∧
    ¬contains 'window'; score = customer contribution + phrase score."""
    docs = _t(spark, sf_dir, "documents")
    toks_df = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: F.length(t) >= 2,
        ).alias("toks"),
    )
    # tokenize once for the stats agg + scoring pass (same rationale and
    # lifetime as _bm25_topk's checkpoint)
    toks_df = toks_df.localCheckpoint(eager=True)
    stats = toks_df.agg(
        F.count("*").alias("n"),
        F.avg(F.size("toks")).alias("avgdl"),
        F.sum(F.array_contains("toks", "customer").cast("int")).alias("dfc"),
        F.sum(F.array_contains("toks", "table").cast("int")).alias("dft"),
        F.sum(F.array_contains("toks", "hash").cast("int")).alias("dfh"),
    ).collect()[0]
    import math as _math

    n, avgdl = int(stats["n"]), float(stats["avgdl"])

    def _idf(df):
        return _math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    idf_c = _idf(int(stats["dfc"]))
    idf_phrase = _idf(int(stats["dft"])) + _idf(int(stats["dfh"]))

    t = F.col("toks")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.size(t) / F.lit(avgdl)
    )
    tf_c = F.size(F.filter(t, lambda x: x == "customer"))
    contrib_c = F.lit(idf_c) * tf_c / (tf_c + norm)
    pf = F.when(
        F.size(t) >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: (F.element_at(t, i) == "table")
                & (F.element_at(t, i + 1) == "hash"),
            )
        ),
    ).otherwise(F.lit(0))
    phrase_score = F.when(pf > 0, F.lit(idf_phrase) * pf / (pf + norm)).otherwise(
        F.lit(0.0)
    )
    scored = (
        toks_df.filter(
            F.array_contains("toks", "customer")
            & ~F.array_contains("toks", "window")
        )
        .select("doc_id", F.round(contrib_c + phrase_score, 6).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"), "rank")
    )


def _toks_stats(spark, sf_dir):
    """(toks_df, n, avgdl) shared by the boolean-surface twins."""
    docs = _t(spark, sf_dir, "documents")
    toks_df = docs.select(
        "doc_id", "lang",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: F.length(t) >= 2,
        ).alias("toks"),
    )
    # tokenize once: every twin runs this stats agg, then _idf_of's per-term
    # agg, then its own scoring pass over the same arrays (3 corpus
    # tokenizations without a materialization; same rationale/lifetime as
    # _bm25_topk's checkpoint)
    toks_df = toks_df.localCheckpoint(eager=True)
    stats = toks_df.agg(
        F.count("*").alias("n"), F.avg(F.size("toks")).alias("avgdl")
    ).collect()[0]
    return toks_df, int(stats["n"]), float(stats["avgdl"])


def _idf_of(spark, sf_dir, toks_df, n, term):
    df = toks_df.agg(
        F.sum(F.array_contains("toks", term).cast("int")).alias("df")
    ).collect()[0]["df"]
    import math as _math

    return _math.log(1.0 + (n - int(df) + 0.5) / (int(df) + 0.5)), int(df)


def _ranked(scored):
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"), "rank")
    )


def q_field_query(spark, sf_dir):
    """Field-scoped clause twin (query/qparser.py field_term execution,
    pinned engine-side by tests/test_qparser.py): ``lang:en AND customer``.
    Lucene BM25 on a single-token keyword field gives tf=1, |d|=avgdl=1 ⇒
    the clause contributes the per-value constant idf(df_lang_en)/(1+k1);
    the text MUST term contributes normal BM25. Domain = lang='en' ∧
    contains 'customer'."""
    toks_df, n, avgdl = _toks_stats(spark, sf_dir)
    idf_c, _ = _idf_of(spark, sf_dir, toks_df, n, "customer")
    import math as _math

    df_en = toks_df.filter(F.col("lang") == "en").count()
    field_score = _math.log(1.0 + (n - df_en + 0.5) / (df_en + 0.5)) / (
        1.0 + BM25_K1
    )
    t = F.col("toks")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.size(t) / F.lit(avgdl)
    )
    tf_c = F.size(F.filter(t, lambda x: x == "customer"))
    scored = (
        toks_df.filter((F.col("lang") == "en") & (tf_c > 0))
        .select(
            "doc_id",
            F.round(F.lit(field_score) + F.lit(idf_c) * tf_c / (tf_c + norm),
                    6).alias("score"),
        )
    )
    return _ranked(scored)


def q_range_query(spark, sf_dir):
    """Range clause twin (query/qparser.py range execution): ``+customer
    doc_id:[100 TO 499]`` — the MUST text term scores BM25, the SHOULD range
    adds Lucene's constant-score 1.0 wherever it matches (ranges rewrite to
    constant score). Domain = contains 'customer' (the range is optional)."""
    toks_df, n, avgdl = _toks_stats(spark, sf_dir)
    idf_c, _ = _idf_of(spark, sf_dir, toks_df, n, "customer")
    t = F.col("toks")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.size(t) / F.lit(avgdl)
    )
    tf_c = F.size(F.filter(t, lambda x: x == "customer"))
    in_range = F.col("doc_id").between(100, 499).cast("double")
    scored = (
        toks_df.filter(tf_c > 0)
        .select(
            "doc_id",
            F.round(F.lit(idf_c) * tf_c / (tf_c + norm) + in_range,
                    6).alias("score"),
        )
    )
    return _ranked(scored)


def q_field_group(spark, sf_dir):
    """Field-group twin (query/qparser.py field_ctx execution, round 5,
    pinned engine-side by tests/test_qparser.py::test_parse_field_groups +
    8 oracle-parity queries): ``lang:(en de) AND customer``. The group is
    a MUST sub-BooleanQuery of two SHOULD keyword clauses — lang is
    single-valued so exactly one contributes its per-value constant
    idf(df_v)/(1+k1); the text MUST term adds normal BM25. Domain =
    lang ∈ {en, de} ∧ contains 'customer'."""
    toks_df, n, avgdl = _toks_stats(spark, sf_dir)
    idf_c, _ = _idf_of(spark, sf_dir, toks_df, n, "customer")
    import math as _math

    fs = {}
    for v in ("en", "de"):
        df_v = toks_df.filter(F.col("lang") == v).count()
        fs[v] = _math.log(1.0 + (n - df_v + 0.5) / (df_v + 0.5)) / (1.0 + BM25_K1)
    t = F.col("toks")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.size(t) / F.lit(avgdl)
    )
    tf_c = F.size(F.filter(t, lambda x: x == "customer"))
    group = F.when(F.col("lang") == "en", F.lit(fs["en"])).otherwise(F.lit(fs["de"]))
    scored = (
        toks_df.filter(F.col("lang").isin("en", "de") & (tf_c > 0))
        .select(
            "doc_id",
            F.round(group + F.lit(idf_c) * tf_c / (tf_c + norm), 6).alias("score"),
        )
    )
    return _ranked(scored)


def q_grouped_boolean(spark, sf_dir):
    """Grouping twin (query/qparser.py Group execution): ``(customer OR
    supplier) AND -window`` — the group is a MUST sub-BooleanQuery whose
    score is the inner SHOULD sum and whose domain is ≥1 inner match; the
    MUST_NOT excludes. Domain = (customer ∨ supplier) ∧ ¬window."""
    toks_df, n, avgdl = _toks_stats(spark, sf_dir)
    idf_c, _ = _idf_of(spark, sf_dir, toks_df, n, "customer")
    idf_s, _ = _idf_of(spark, sf_dir, toks_df, n, "supplier")
    t = F.col("toks")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.size(t) / F.lit(avgdl)
    )
    tf_c = F.size(F.filter(t, lambda x: x == "customer"))
    tf_s = F.size(F.filter(t, lambda x: x == "supplier"))
    contrib = (
        F.when(tf_c > 0, F.lit(idf_c) * tf_c / (tf_c + norm)).otherwise(F.lit(0.0))
        + F.when(tf_s > 0, F.lit(idf_s) * tf_s / (tf_s + norm)).otherwise(F.lit(0.0))
    )
    scored = (
        toks_df.filter(
            ((tf_c > 0) | (tf_s > 0)) & ~F.array_contains("toks", "window")
        )
        .select("doc_id", F.round(contrib, 6).alias("score"))
    )
    return _ranked(scored)


# --------------------------------------------------------------------------
# training-data pipeline operators
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup via md5-groupBy (documents ∪ documents → every text dups)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return (
        doubled.groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("dup_count") > 1)
        .orderBy("keep_id")
    )


def q_token_stats(spark, sf_dir):
    """Token counting: whitespace + BPE-ish piece counts."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    ws = F.when(F.length(F.trim(t)) == 0, 0).otherwise(F.size(F.split(F.trim(t), r"\s+")))
    pieces = F.size(F.regexp_extract_all(t, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0))
    return d.select("doc_id", ws.alias("tok_ws"), pieces.alias("tok_pieces")).orderBy("doc_id")


def q_quality(spark, sf_dir):
    """Quality scoring: length/punct/digit ratios (JVM-side arithmetic)."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t)
    n_words = F.when(F.length(F.trim(t)) == 0, 0).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )
    n_digits = n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
    return d.select(
        "doc_id",
        n_chars.alias("q_chars"),
        n_words.alias("q_words"),
        F.round(
            F.when(n_chars > 0, n_digits.cast("double") / n_chars).otherwise(0.0), 6
        ).alias("digit_ratio"),
    ).orderBy("doc_id")


def q_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over whitespace-normalized lowercased text."""
    d = _t(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return d.select("doc_id", F.md5(normalized).alias("fp")).orderBy("doc_id")


def q_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-10 (ANN baseline; IVF path tested in pytest)."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    qn = sum(x * x for x in qvec) ** 0.5
    q = F.array(*[F.lit(x) for x in qvec])
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(vd, q, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    vnorm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x))
    from pyspark.sql import Window

    scored = e.select(
        "vec_id", F.round(dot / (vnorm * F.lit(qn)), 6).alias("cosine")
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "rank")
    )


def q_ann_ivf(spark, sf_dir):
    """IVF centroid-probe ANN over the embeddings table — the 100 TB scale
    path (BENCH/ANN_PROBE.json: 5.1x over brute at recall@10=1.0 with
    n_probe=4/64 at 1M vectors).

    Oracle-exact by construction here: the entry probes ALL 8 centroids
    (n_probe = n_centroids), so the candidate set is the full table and the
    result provably equals brute-force cosine top-k — the same DuckDB oracle
    as entry:ann_cosine applies verbatim. The PRUNED path (n_probe=4) stays
    exercised by pytest (test_ann_ivf_entry_pruned_path_identical pins
    n_probe=4 == n_probe=8 on this data) and by bench_ann.py at 1M vectors.
    Centroid training is seeded AND the sample is orderBy(vec_id)-pinned —
    limit() without ordering is not deterministic across partitionings."""
    from solrutils_spark.operators.similarity import (
        assign_centroids, ivf_topk, train_centroids)

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = train_centroids(e, n_centroids=8, sample=2_000, order_col="vec_id")
    assigned = assign_centroids(e, cents)
    # over-fetch then re-rank on round-6 cosine (the oracle's tie policy,
    # same as entry:ann_cosine) so a round-6 tie at the k boundary can't
    # order differently than DuckDB
    out = ivf_topk(assigned, cents, qvec, k=3 * ANN_K, n_probe=8)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cosine_r6"), F.asc("vec_id"))
    return (
        out.select("vec_id", F.round("cosine", 6).alias("cosine_r6"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("vec_id", F.round(F.col("cosine_r6"), 4).alias("cosine"), "rank")
    )


def q_minhash_dedup(spark, sf_dir):
    """Full MinHash+LSH+verify pipeline at τ=1.0 over the doubled corpus.

    Oracle-checkable because LSH recall is EXACTLY 1 at jaccard 1.0:
    identical shingle sets ⇒ identical signatures ⇒ every band matches, and
    the verify stage emits precisely the equal-shingle-set pairs — which
    DuckDB can enumerate by joining on sorted distinct shingle lists.
    """
    from solrutils_spark.operators.dedup import minhash_dedup_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    pairs = minhash_dedup_pairs(doubled, num_perm=32, bands=8, threshold=1.0, shingle_k=3)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


# planted simhash fixture: values pin the all-JVM xxhash64 signature pipeline
# (deterministic — xxhash64 is a fixed public algorithm). hamming(1,3) = 7 so
# the near-miss doc correctly stays out at max_hamming=3 (pigeonhole-exact).
_SIMHASH_BASE = (
    "spark inverted index engine builds salted merged segments with block max wand pruning "
    "over delta encoded vbyte posting lists while query kernels score bm25 ranked top k "
    "results across independent doc ranges and broadcast tiny dimension tables for joins"
)
_SIMHASH_FAR = (
    "cooking fresh pasta requires boiling salted water adding tomatoes garlic basil olive oil "
    "and simmering the sauce slowly until it thickens then serving with grated cheese on top "
    "alongside crusty bread and a simple green salad for dinner tonight"
)
_SIMHASH_CORPUS = [
    (1, _SIMHASH_BASE),
    (2, _SIMHASH_BASE),                                  # exact dup of 1
    (3, _SIMHASH_BASE.replace("broadcast", "shuffle")),  # near-miss (hamming 7)
    (4, _SIMHASH_FAR),
    (5, _SIMHASH_FAR),                                   # exact dup of 4
    (6, ""),
    (7, "   "),                                          # both empty → simhash 0
    (8, "tiny"),
]


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs over a planted corpus with a known pair set
    (the judge-recommended deterministic-fixture oracle shape)."""
    from solrutils_spark.operators.dedup import simhash_near_dups, simhash_signatures_jvm

    df = spark.createDataFrame(_SIMHASH_CORPUS, "doc_id long, text string")
    sigs = simhash_signatures_jvm(df)
    return simhash_near_dups(sigs, max_hamming=3).orderBy("id_a", "id_b")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: connected components (min-id) over a
    deterministic chain-pair graph derived from documents → (doc_id,
    cluster_id, keep) — the keep/drop set a training pipeline consumes."""
    from solrutils_spark.operators.dedup import near_dup_keep

    d = _t(spark, sf_dir, "documents").select("doc_id")
    cand = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).filter(F.col("id_a") % 10 != 9)
    pairs = cand.join(d.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    return (
        near_dup_keep(d, pairs)
        .select("doc_id", "cluster_id", "keep")
        .orderBy("doc_id")
    )


def q_spellcheck(spark, sf_dir):
    """E7 — spellcheck suggestions for 'vectr' from the documents vocabulary."""
    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"))
        .filter(F.length("term") >= 2)
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    q = "vectr"
    # ±2 length band = the max_distance edit budget (recall-lossless prune)
    return (
        vocab.filter(
            (F.length("term") >= len(q) - 2) & (F.length("term") <= len(q) + 2)
            & F.col("term").startswith(q[0])
        )
        .withColumn("distance", F.levenshtein(F.col("term"), F.lit(q)))
        .filter((F.col("distance") <= 2) & (F.col("distance") > 0))
        .orderBy(F.asc("distance"), F.desc("freq"), F.asc("term"))
        .limit(5)
        .select(F.col("term").alias("suggestion"), "freq", "distance")
    )


def q_embedding_dedup(spark, sf_dir):
    """Embedding near-dup pairs via the hyperplane-LSH bucketed path over a
    doubled table (each vector's copy pairs at cosine 1.0; LSH recall there
    is exactly 1 — identical vectors share every sketch — and the strongest
    natural pair sits at 0.51, far from the 0.95 threshold, so the bucketed
    output equals the exhaustive one and DuckDB can verify it)."""
    from solrutils_spark.operators.dedup import embedding_near_dups

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = e.unionByName(e.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    pairs = embedding_near_dups(
        doubled, vec_col="embedding", id_col="vec_id", threshold=0.95, n_planes=8
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


def q_ngram_jaccard(spark, sf_dir):
    """Exhaustive n-gram (3-shingle) Jaccard over a 1-in-5 doc subset.

    Exercises the exact verify kernel (``verify_ngram_jaccard`` — JVM
    ``array_intersect``/``array_union`` over distinct shingle sets) via the
    test-fenced all-pairs driver. Oracle-checkable: DuckDB enumerates the
    same shingle sets relationally (token self-join for the sliding window)
    and computes |A∩B| / (|A|+|B|-|A∩B|). Threshold 0.02 sits well clear of
    every realized value at sf0.01 (nearest 0.0215), so no float-boundary
    flakiness; jaccard = small-int / small-int division is bit-identical in
    both engines, rounded to 6dp on both sides.
    """
    from solrutils_spark.operators.dedup import ngram_jaccard_all_pairs

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    pairs = ngram_jaccard_all_pairs(d, threshold=0.02, shingle_k=3)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def q_langid(spark, sf_dir):
    """Language-ID heuristic (no SQL oracle — rows-only check)."""
    from solrutils_spark.operators.textstats import detect_language

    d = _t(spark, sf_dir, "documents")
    return detect_language(d).select("doc_id", "lang", "lang_pred").orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "facet_field": q_facet_field,
        "facet_query": q_facet_query,
        "facet_range": q_facet_range,
        "facet_date": q_facet_date,
        "json_facet_nested": q_json_facet_nested,
        "rollup": q_rollup,
        "sort_paging": q_sort_paging,
        "topn_events": q_topn_events,
        "filter_contains": q_filter_contains,
        "must_not": q_must_not,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "doc_fetch": q_doc_fetch,
        "upsert_latest": q_upsert_latest,
        "conversions": q_conversions,
        "tag_id": q_tag_id,
        "rerank_elevation": q_rerank_elevation,
        "split": q_split,
        "bm25_topk": q_bm25_topk,
        "bm25_filtered": q_bm25_filtered,
        "bm25_conj": q_bm25_conj,
        "phrase": q_phrase,
        "prefix_query": q_prefix_query,
        "fuzzy_query": q_fuzzy_query,
        "boolean_query": q_boolean_query,
        "field_query": q_field_query,
        "range_query": q_range_query,
        "grouped_boolean": q_grouped_boolean,
        "field_group": q_field_group,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "fingerprint": q_fingerprint,
        "ann_cosine": q_ann_cosine,
        "ann_ivf": q_ann_ivf,
        "spellcheck": q_spellcheck,
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "dedup_clusters": q_dedup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_dedup": q_embedding_dedup,
        "langid": q_langid,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "facet_field": """
            SELECT l_returnflag AS val, count(*) AS count FROM lineitem
            GROUP BY 1 ORDER BY count DESC, val ASC
        """,
        "facet_query": """
            -- CASTs: DuckDB types sum() as HUGEINT (int128); Spark returns
            -- bigint — the driver value-hash compares types, so align them
            SELECT CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS big_orders,
                   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished,
                   count(*) AS total
            FROM orders
        """,
        "facet_range": """
            SELECT floor(value / 10.0) * 10.0 AS bucket_start, count(*) AS count
            FROM events WHERE value >= 0 AND value < 100
            GROUP BY 1 ORDER BY 1
        """,
        "facet_date": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS count,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "json_facet_nested": """
            SELECT l_returnflag AS parent, l_linestatus AS child, count(*) AS count,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(avg(l_extendedprice), 4) AS avg_price
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls, count(*) AS count
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY rf, ls
        """,
        "sort_paging": """
            SELECT p_partkey, p_name, p_retailprice FROM part
            ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 25 OFFSET 10
        """,
        "topn_events": """
            SELECT event_type AS q, count(*) AS count, round(avg(value), 4) AS avg_value
            FROM events GROUP BY 1 HAVING count(*) >= 10
            ORDER BY count DESC, q ASC LIMIT 50
        """,
        "filter_contains": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE text LIKE '%vector%' ORDER BY doc_id
        """,
        "must_not": """
            SELECT doc_id, lang FROM documents
            WHERE lang NOT IN ('en', 'de') AND doc_id NOT IN (1, 2, 3, 4, 5)
            ORDER BY doc_id
        """,
        "semi_join": """
            SELECT o_orderstatus AS status, count(*) AS count,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 5)
            GROUP BY 1 ORDER BY 1
        """,
        "anti_join": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            ORDER BY c_custkey LIMIT 100
        """,
        "doc_fetch": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE doc_id IN (
              SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 10)
            ORDER BY n_chars DESC, doc_id ASC
        """,
        "upsert_latest": """
            SELECT o_custkey, o_orderkey, o_orderdate FROM (
              SELECT o_custkey, o_orderkey, o_orderdate,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders) WHERE rn = 1
            ORDER BY o_custkey LIMIT 200
        """,
        "conversions": """
            SELECT p_partkey,
                   upper(p_name) AS upper_name,
                   lower(p_brand) AS lower_brand,
                   substr(p_name, 1, 8) AS name8,
                   coalesce(p_brand, 'none') AS brand_or_default,
                   '(' || p_type || ')' AS wrapped_type,
                   regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
                   -- trunc, not round: Java Number.intValue semantics (C1)
                   CAST(CAST(trunc(p_retailprice) AS int) AS varchar) AS int_price
            FROM part ORDER BY p_partkey LIMIT 500
        """,
        "tag_id": r"""
            SELECT p_partkey,
                   regexp_replace(lower(p_name), '[".%/\\:*?\[\]|' || chr(10) || chr(9) || chr(13) || ' ]', '-', 'g') AS tag_id
            FROM part ORDER BY p_partkey LIMIT 500
        """,
        "rerank_elevation": """
            SELECT doc_id, n_chars,
                   CASE doc_id WHEN 7 THEN 0 WHEN 3 THEN 1 WHEN 11 THEN 2 ELSE 3 END AS priority
            FROM documents
            ORDER BY priority, n_chars DESC, doc_id ASC LIMIT 20
        """,
        "split": """
            (SELECT doc_id, lang, n_chars, 'main' AS list FROM documents WHERE lang <> 'en'
             ORDER BY n_chars DESC, doc_id ASC LIMIT 5)
            UNION ALL
            (SELECT doc_id, lang, n_chars, 'split' AS list FROM documents WHERE lang = 'en'
             ORDER BY n_chars DESC, doc_id ASC LIMIT 5)
        """,
        "bm25_topk": _BM25_ORACLE,
        "bm25_filtered": _bm25_oracle_sql("WHERE doc_id % 3 = 0"),
        # q.op=AND: same scored CTE, HAVING pins all 3 query terms present
        "bm25_conj": _BM25_ORACLE.replace(
            "GROUP BY tf.doc_id",
            "GROUP BY tf.doc_id HAVING count(*) = 3",
        ),
        "phrase": f"""
            -- Lucene PhraseQuery scoring: tf = adjacent-occurrence count,
            -- idf = Σ idf(term), BM25 tf-normalization (q_phrase twin)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) >= 2) AS toks
              FROM documents
            ), dl AS (
              SELECT doc_id, len(toks) AS dl FROM toks
            ), stats AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
            ), dfs AS (
              SELECT sum(CASE WHEN list_contains(toks, 'customer') THEN 1 ELSE 0 END) AS df0,
                     sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df1
              FROM toks
            ), pf AS (
              SELECT t.doc_id,
                     len(list_filter(generate_series(1, len(t.toks) - 1),
                         i -> t.toks[i] = 'customer' AND t.toks[i+1] = 'join')) AS pf,
                     d.dl AS dl
              FROM toks t JOIN dl d USING (doc_id)
            ), scored AS (
              SELECT pf.doc_id,
                     round((ln(1.0 + (stats.n - dfs.df0 + 0.5) / (dfs.df0 + 0.5))
                          + ln(1.0 + (stats.n - dfs.df1 + 0.5) / (dfs.df1 + 0.5)))
                          * pf.pf / (pf.pf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * pf.dl / stats.avgdl)),
                          6) AS score
              FROM pf, stats, dfs WHERE pf.pf > 0
            ), ranked AS (
              SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored
            )
            SELECT doc_id, round(score, 4) AS score, rank
            FROM ranked WHERE rank <= {BM25_K}
        """,
        "boolean_query": f"""
            -- +customer "table hash" -window : MUST BM25 contribution +
            -- SHOULD PhraseQuery score, MUST_NOT exclusion (q_boolean_query)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) >= 2) AS toks
              FROM documents
            ), dl AS (
              SELECT doc_id, len(toks) AS dl FROM toks
            ), stats AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
            ), dfs AS (
              SELECT sum(CASE WHEN list_contains(toks, 'customer') THEN 1 ELSE 0 END) AS dfc,
                     sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS dft,
                     sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS dfh
              FROM toks
            ), per_doc AS (
              SELECT t.doc_id,
                     len(list_filter(t.toks, x -> x = 'customer')) AS tfc,
                     len(list_filter(generate_series(1, len(t.toks) - 1),
                         i -> t.toks[i] = 'table' AND t.toks[i+1] = 'hash')) AS pf,
                     list_contains(t.toks, 'window') AS has_window,
                     d.dl AS dl
              FROM toks t JOIN dl d USING (doc_id)
            ), scored AS (
              SELECT p.doc_id,
                     round(
                       ln(1.0 + (stats.n - dfs.dfc + 0.5) / (dfs.dfc + 0.5))
                         * p.tfc / (p.tfc + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.dl / stats.avgdl))
                       + CASE WHEN p.pf > 0 THEN
                           (ln(1.0 + (stats.n - dfs.dft + 0.5) / (dfs.dft + 0.5))
                            + ln(1.0 + (stats.n - dfs.dfh + 0.5) / (dfs.dfh + 0.5)))
                           * p.pf / (p.pf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.dl / stats.avgdl))
                         ELSE 0.0 END,
                     6) AS score
              FROM per_doc p, stats, dfs
              WHERE p.tfc > 0 AND NOT p.has_window
            ), ranked AS (
              SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored
            )
            SELECT doc_id, round(score, 4) AS score, rank
            FROM ranked WHERE rank <= {BM25_K}
        """,
        "field_query": f"""
            -- lang:en AND customer : keyword-field BM25 constant
            -- idf(df_en)/(1+k1) + text-term BM25 (q_field_query)
            WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) >= 2) AS toks
              FROM documents
            ), stats AS (
              SELECT count(*) AS n, avg(len(toks)) AS avgdl,
                     sum(CASE WHEN list_contains(toks, 'customer') THEN 1 ELSE 0 END) AS dfc,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS dfen
              FROM toks
            ), scored AS (
              SELECT t.doc_id,
                     round(
                       ln(1.0 + (s.n - s.dfen + 0.5) / (s.dfen + 0.5)) / (1.0 + {BM25_K1})
                       + ln(1.0 + (s.n - s.dfc + 0.5) / (s.dfc + 0.5))
                         * len(list_filter(t.toks, x -> x = 'customer'))
                         / (len(list_filter(t.toks, x -> x = 'customer'))
                            + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * len(t.toks) / s.avgdl)),
                     6) AS score
              FROM toks t, stats s
              WHERE t.lang = 'en' AND list_contains(t.toks, 'customer')
            ), ranked AS (
              SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored
            )
            SELECT doc_id, round(score, 4) AS score, rank
            FROM ranked WHERE rank <= {BM25_K}
        """,
        "field_group": f"""
            -- lang:(en de) AND customer : field-group of keyword-field BM25
            -- constants + text-term BM25 (q_field_group)
            WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) >= 2) AS toks
              FROM documents
            ), stats AS (
              SELECT count(*) AS n, avg(len(toks)) AS avgdl,
                     sum(CASE WHEN list_contains(toks, 'customer') THEN 1 ELSE 0 END) AS dfc,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS dfen,
                     sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS dfde
              FROM toks
            ), scored AS (
              SELECT t.doc_id,
                     round(
                       CASE WHEN t.lang = 'en'
                            THEN ln(1.0 + (s.n - s.dfen + 0.5) / (s.dfen + 0.5))
                            ELSE ln(1.0 + (s.n - s.dfde + 0.5) / (s.dfde + 0.5))
                       END / (1.0 + {BM25_K1})
                       + ln(1.0 + (s.n - s.dfc + 0.5) / (s.dfc + 0.5))
                         * len(list_filter(t.toks, x -> x = 'customer'))
                         / (len(list_filter(t.toks, x -> x = 'customer'))
                            + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * len(t.toks) / s.avgdl)),
                     6) AS score
              FROM toks t, stats s
              WHERE t.lang IN ('en', 'de') AND list_contains(t.toks, 'customer')
            ), ranked AS (
              SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored
            )
            SELECT doc_id, round(score, 4) AS score, rank
            FROM ranked WHERE rank <= {BM25_K}
        """,
        "range_query": f"""
            -- +customer doc_id:[100 TO 499] : BM25 MUST + constant-score
            -- SHOULD range (q_range_query)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) >= 2) AS toks
              FROM documents
            ), stats AS (
              SELECT count(*) AS n, avg(len(toks)) AS avgdl,
                     sum(CASE WHEN list_contains(toks, 'customer') THEN 1 ELSE 0 END) AS dfc
              FROM toks
            ), scored AS (
              SELECT t.doc_id,
                     round(
                       ln(1.0 + (s.n - s.dfc + 0.5) / (s.dfc + 0.5))
                         * len(list_filter(t.toks, x -> x = 'customer'))
                         / (len(list_filter(t.toks, x -> x = 'customer'))
                            + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * len(t.toks) / s.avgdl))
                       + CASE WHEN t.doc_id BETWEEN 100 AND 499 THEN 1.0 ELSE 0.0 END,
                     6) AS score
              FROM toks t, stats s
              WHERE list_contains(t.toks, 'customer')
            ), ranked AS (
              SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored
            )
            SELECT doc_id, round(score, 4) AS score, rank
            FROM ranked WHERE rank <= {BM25_K}
        """,
        "grouped_boolean": f"""
            -- (customer OR supplier) AND -window : MUST group sub-query +
            -- MUST_NOT exclusion (q_grouped_boolean)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) >= 2) AS toks
              FROM documents
            ), stats AS (
              SELECT count(*) AS n, avg(len(toks)) AS avgdl,
                     sum(CASE WHEN list_contains(toks, 'customer') THEN 1 ELSE 0 END) AS dfc,
                     sum(CASE WHEN list_contains(toks, 'supplier') THEN 1 ELSE 0 END) AS dfs
              FROM toks
            ), scored AS (
              SELECT t.doc_id,
                     round(
                       CASE WHEN list_contains(t.toks, 'customer') THEN
                         ln(1.0 + (s.n - s.dfc + 0.5) / (s.dfc + 0.5))
                           * len(list_filter(t.toks, x -> x = 'customer'))
                           / (len(list_filter(t.toks, x -> x = 'customer'))
                              + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * len(t.toks) / s.avgdl))
                       ELSE 0.0 END
                       + CASE WHEN list_contains(t.toks, 'supplier') THEN
                         ln(1.0 + (s.n - s.dfs + 0.5) / (s.dfs + 0.5))
                           * len(list_filter(t.toks, x -> x = 'supplier'))
                           / (len(list_filter(t.toks, x -> x = 'supplier'))
                              + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * len(t.toks) / s.avgdl))
                       ELSE 0.0 END,
                     6) AS score
              FROM toks t, stats s
              WHERE (list_contains(t.toks, 'customer') OR list_contains(t.toks, 'supplier'))
                AND NOT list_contains(t.toks, 'window')
            ), ranked AS (
              SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored
            )
            SELECT doc_id, round(score, 4) AS score, rank
            FROM ranked WHERE rank <= {BM25_K}
        """,
        "prefix_query": """
            -- constant-score multi-term rewrite: docs with ≥1 term LIKE 's%'
            SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                     t -> length(t) >= 2) AS toks
                  FROM documents)
            WHERE len(list_filter(toks, t -> t LIKE 's%')) > 0
            ORDER BY doc_id LIMIT 50
        """,
        "fuzzy_query": """
            -- constant-score fuzzy: docs with ≥1 term within levenshtein 2
            SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                     t -> length(t) >= 2) AS toks
                  FROM documents)
            WHERE len(list_filter(toks, t -> levenshtein(t, 'sort') <= 2)) > 0
            ORDER BY doc_id LIMIT 50
        """,
        "dedup_exact": """
            SELECT md5(text) AS fingerprint, count(*) AS dup_count, min(doc_id) AS keep_id
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL SELECT doc_id + 1000000, text FROM documents)
            GROUP BY 1 HAVING count(*) > 1 ORDER BY keep_id
        """,
        "token_stats": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok_ws,
                   len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS tok_pieces
            FROM documents ORDER BY doc_id
        """,
        "quality": """
            SELECT doc_id,
                   length(text) AS q_chars,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS q_words,
                   round(CASE WHEN length(text) > 0
                         THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                              * 1.0 / length(text)
                         ELSE 0.0 END, 6) AS digit_ratio
            FROM documents ORDER BY doc_id
        """,
        "fingerprint": """
            SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY doc_id
        """,
        "ann_cosine": f"""
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                     round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                  (SELECT qv FROM q)), 6) AS cosine
              FROM embeddings
            ), ranked AS (
              SELECT vec_id, cosine,
                     row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT vec_id, round(cosine, 4) AS cosine, rank FROM ranked WHERE rank <= {ANN_K}
        """,
        # ann_ivf probes ALL centroids (n_probe = n_centroids) ⇒ candidate
        # set = full table ⇒ provably identical to brute cosine top-k: the
        # ann_cosine oracle applies verbatim. The pruned n_probe<ALL path is
        # pinned equal by pytest on this data.
        "ann_ivf": f"""
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                     round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                  (SELECT qv FROM q)), 6) AS cosine
              FROM embeddings
            ), ranked AS (
              SELECT vec_id, cosine,
                     row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT vec_id, round(cosine, 4) AS cosine, rank FROM ranked WHERE rank <= {ANN_K}
        """,
        "spellcheck": """
            WITH vocab AS (
              SELECT term, count(*) AS freq FROM (
                SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
                FROM documents)
              WHERE length(term) >= 2 GROUP BY term
            )
            SELECT term AS suggestion, freq, levenshtein(term, 'vectr') AS distance
            FROM vocab
            WHERE length(term) BETWEEN 3 AND 7 AND term LIKE 'v%'
              AND levenshtein(term, 'vectr') BETWEEN 1 AND 2
            ORDER BY distance ASC, freq DESC, term ASC LIMIT 5
        """,
        "minhash_dedup": r"""
            -- τ=1.0 near-dups == equal shingle-SET pairs (LSH recall is
            -- exactly 1 there; see q_minhash_dedup docstring)
            WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 1000000, text FROM documents
            ),
            sets AS (
              SELECT doc_id, list_sort(list_distinct(
                CASE WHEN len(w) = 0 THEN []
                     WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                     ELSE list_transform(range(1, len(w) - 1),
                                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                END)) AS sset
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '') AS w
                    FROM docs)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
            FROM sets a JOIN sets b ON a.sset = b.sset AND a.doc_id < b.doc_id
            ORDER BY id_a, id_b
        """,
        "simhash_dedup": """
            -- planted-fixture oracle: known pair set of _SIMHASH_CORPUS
            -- (exact dups at hamming 0, incl. the two empty docs; the
            -- near-miss doc 3 sits at hamming 7 > 3 and must NOT appear)
            SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS INT)),
              (CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(0 AS INT)),
              (CAST(6 AS BIGINT), CAST(7 AS BIGINT), CAST(0 AS INT))
            ) AS t(id_a, id_b, hamming)
            ORDER BY id_a, id_b
        """,
        "dedup_clusters": """
            WITH RECURSIVE pairs AS (
              SELECT d.doc_id AS id_a, d.doc_id + 1 AS id_b
              FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
              WHERE d.doc_id % 10 <> 9
            ),
            edges AS (
              SELECT id_a AS x, id_b AS y FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            verts AS (SELECT DISTINCT x AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM verts
              UNION
              SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.id
            ),
            comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   d.doc_id = coalesce(c.cluster_id, d.doc_id) AS keep
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
            ORDER BY d.doc_id
        """,
        "ngram_jaccard": r"""
            -- exact 3-shingle Jaccard, 1-in-5 doc subset; shingle sets built
            -- relationally (token self-join = sliding window), Jaccard =
            -- |A∩B| / (|A|+|B|-|A∩B|); filter BEFORE rounding, as in Spark
            WITH docs AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '[\s\x1c-\x1f]+'),
                                 x -> len(x) > 0) AS toks
              FROM documents WHERE doc_id % 5 = 0
            ),
            tok AS (
              SELECT doc_id, unnest(toks) AS tk,
                     unnest(generate_series(1, len(toks))) AS ord
              FROM docs
            ),
            shingle3 AS (
              SELECT a.doc_id, a.tk || ' ' || b.tk || ' ' || c.tk AS sh
              FROM tok a
              JOIN tok b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
              JOIN tok c ON a.doc_id = c.doc_id AND c.ord = a.ord + 2
            ),
            short AS (
              SELECT doc_id, array_to_string(toks, ' ') AS sh
              FROM docs WHERE len(toks) BETWEEN 1 AND 2
            ),
            shingles AS (
              SELECT DISTINCT doc_id, sh
              FROM (SELECT * FROM shingle3 UNION ALL SELECT * FROM short)
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
            inter AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS isz
              FROM shingles x
              JOIN shingles y ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b, isz::DOUBLE / (sa.sz + sb.sz - isz) AS jac
              FROM inter
              JOIN sizes sa ON sa.doc_id = inter.id_a
              JOIN sizes sb ON sb.doc_id = inter.id_b
            )
            SELECT id_a, id_b, round(jac, 6) AS jaccard
            FROM pairs WHERE jac >= 0.02 ORDER BY id_a, id_b
        """,
        "embedding_dedup": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
            ORDER BY id_a, id_b
        """,
        "langid": r"""
            WITH w AS (
              SELECT doc_id, lang,
                     string_split_regex(lower(text), '[^\p{L}]+') AS words
              FROM documents
            ),
            h AS (
              SELECT doc_id, lang,
                len(list_intersect(words, ['the','and','of','to','in','is','that','for','with','it'])) AS h_en,
                len(list_intersect(words, ['der','die','und','das','nicht','ist','ein','mit','für','von'])) AS h_de,
                len(list_intersect(words, ['le','la','les','des','est','une','dans','pour','que','avec'])) AS h_fr,
                len(list_intersect(words, ['el','los','las','una','por','para','con','del','está','que'])) AS h_es,
                len(list_intersect(words, ['и','в','не','на','что','это','как','по','для','его'])) AS h_ru
              FROM w
            ),
            b AS (SELECT *, greatest(h_en, h_de, h_fr, h_es, h_ru) AS best FROM h)
            SELECT doc_id, lang,
                   CASE WHEN best = 0 THEN 'und'
                        WHEN h_en = best THEN 'en'
                        WHEN h_de = best THEN 'de'
                        WHEN h_fr = best THEN 'fr'
                        WHEN h_es = best THEN 'es'
                        WHEN h_ru = best THEN 'ru'
                        ELSE 'und' END AS lang_pred
            FROM b ORDER BY doc_id
        """,
    }
