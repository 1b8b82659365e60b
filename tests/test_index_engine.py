"""Segment/merge/WAND path: rank-identical parity + resume + lineage.

The exact-DataFrame path is already pinned to the oracle (test_bm25_parity);
this suite pins the compressed on-disk path: build → segments → salted merge
→ bucketed index → block-max WAND — same oracle, same queries, same atol.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from solrutils_spark.corpus import reference_queries, synth_corpus
from solrutils_spark.index.builder import FORMAT_VERSION, build_index, read_lineage
from solrutils_spark.oracle.reference_bm25 import OracleIndex
from solrutils_spark.query.engine import IndexReader

N_DOCS = 400
SEGMENT_SIZE = 64  # forces many segments + multi-salt merge at tiny scale


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    corpus = synth_corpus(spark, N_DOCS, hot_repeat=2_000)
    stats = build_index(corpus, out, segment_size=SEGMENT_SIZE, num_salts=3, num_buckets=16)
    assert stats["n_docs"] == N_DOCS
    return out


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


@pytest.fixture(scope="module")
def oracle(spark, reader):
    rows = reader.docs.select("doc_id", "content").collect()
    return OracleIndex([(r["doc_id"], r["content"]) for r in rows])


def test_stats_match_oracle(reader, oracle):
    assert reader.stats["n_docs"] == oracle.n_docs
    assert reader.stats["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-9)


def test_lineage_complete(spark, index_dir):
    lineage = read_lineage(spark, index_dir)
    rows = lineage.collect()
    n_segments = -(-N_DOCS // SEGMENT_SIZE)
    assert len(rows) == n_segments
    assert all(r["status"] == "committed" for r in rows)
    assert sum(r["rows_in"] for r in rows) == N_DOCS
    assert all(r["postings_bytes"] >= 0 for r in rows)


@pytest.mark.parametrize("qid,qtext,k", reference_queries())
def test_wand_rank_identical(reader, oracle, qid, qtext, k):
    expected = oracle.search(qtext, k)
    got = [(r["doc_id"], r["score"]) for r in reader.search(qtext, k).collect()]
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"q{qid} {qtext!r}\n got={got}\n exp={expected}"
    )
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"q{qid} doc {gd}"


def test_range_max_segment_past_end_is_zero():
    """Round-5 (ADVICE): a valid segment lying entirely past the end of
    values (left >= size) must return 0.0, not values[size-1] — latent
    contract for future callers (current callers always have right <= size)."""
    import numpy as np

    from solrutils_spark.query.wand import _range_max

    values = np.array([1.0, 5.0, 2.0])
    out = _range_max(
        values, np.array([0, 3, 4, 1]), np.array([2, 5, 6, 5])
    )
    # [0,2) → 5; [3,5) and [4,6) past end → 0; [1,5) clamps tail → max(5,2)=5
    assert out.tolist() == [5.0, 0.0, 0.0, 5.0]


def _batch_ranked(reader, qs, **kw):
    """search_batch (the exhaustive kernel) → {query_id: [(doc_id, score)]}."""
    by_qid: dict = {}
    for r in reader.search_batch(qs, **kw).collect():
        by_qid.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {qid: [(d, s) for _, d, s in sorted(v)] for qid, v in by_qid.items()}


def test_wand_equals_exhaustive(reader):
    """Pruning must never change results: WAND ``search`` equals the
    exhaustive batch kernel exactly (ids, order and float scores)."""
    qs = [(i, q, 20) for i, q in enumerate(
        ["posting segment lucene", "hotTermZipfianStorm posting", "delta encode posting list"])]
    exhaustive = _batch_ranked(reader, qs)
    for qid, qtext, k in qs:
        w = [(r["doc_id"], r["score"]) for r in reader.search(qtext, k).collect()]
        assert w and w == exhaustive[qid]


def test_filtered_search_restricts_but_never_scores(spark, reader, oracle):
    qtext = "posting segment"
    unfiltered = [(r["doc_id"], r["score"]) for r in reader.search(qtext, 50).collect()]
    allowed = [d for d, _ in unfiltered if d % 2 == 0]
    fdf = spark.createDataFrame([(d,) for d in allowed], "doc_id long")
    got = [(r["doc_id"], r["score"]) for r in reader.search(qtext, 10, filter_df=fdf).collect()]
    assert all(d % 2 == 0 for d, _ in got)
    # scores identical to unfiltered run for surviving docs (filters never score)
    unf = dict(unfiltered)
    for d, s in got:
        assert s == pytest.approx(unf[d], abs=1e-12)


def test_filter_df_distributed_equals_exhaustive(spark, reader, oracle):
    """The cogroup filter path (no driver collect) must be rank- and
    score-identical to the exhaustive batch kernel under the same filter AND
    to the oracle restricted to the filtered domain — broad filter (1/3 of
    the corpus)."""
    allowed = [d for d in range(N_DOCS) if d % 3 == 0]
    fdf = spark.createDataFrame([(d,) for d in allowed], "doc_id long")
    qs = [(qid, qtext, k) for qid, qtext, k in reference_queries()
          if qid % 3 == 0]  # subset for runtime; spans hot/mid/rare-term shapes
    exhaustive = _batch_ranked(reader, qs, filter_df=fdf)
    for qid, qtext, k in qs:
        via_df = [(r["doc_id"], r["score"])
                  for r in reader.search(qtext, k, filter_df=fdf).collect()]
        assert via_df == exhaustive.get(qid, []), f"q{qid} {qtext!r}"
        expected = [(d, s) for d, s in oracle.search(qtext, N_DOCS) if d % 3 == 0][:k]
        assert [d for d, _ in via_df] == [d for d, _ in expected], f"q{qid} {qtext!r}"
        for (gd, gs), (_, es) in zip(via_df, expected):
            assert gs == pytest.approx(es, abs=1e-9), f"q{qid} doc {gd}"


def test_filtered_wand_prunes_exactly(spark, reader):
    """WAND stays ON under filters (θ over allowed docs only) and must equal
    the exhaustive batch kernel under the same filter exactly."""
    allowed = [d for d in range(N_DOCS) if d % 2 == 0]
    fdf = spark.createDataFrame([(d,) for d in allowed], "doc_id long")
    qs = [(i, q, 20) for i, q in enumerate(
        ["posting segment lucene", "hotTermZipfianStorm posting", "delta encode posting list"])]
    exhaustive = _batch_ranked(reader, qs, filter_df=fdf)
    for qid, qtext, k in qs:
        w = [(r["doc_id"], r["score"])
             for r in reader.search(qtext, k, filter_df=fdf).collect()]
        assert w and w == exhaustive[qid]
        assert all(d % 2 == 0 for d, _ in w)


def test_salt_span_matches_index_layout(spark, reader):
    """salt = doc_id // salt_span must agree with the salt actually stored in
    the merged index for every posting row."""
    from pyspark.sql import functions as F

    span = reader.salt_span()
    idx = reader.index.select("salt", "first_doc", "last_doc")
    bad = idx.filter(
        ((F.col("first_doc") / span).cast("int") != F.col("salt"))
        | ((F.col("last_doc") / span).cast("int") != F.col("salt"))
    ).count()
    assert bad == 0


def test_cache_for_serving_rank_identical(spark, index_dir, oracle):
    """Salt-partitioned hot cache must not change results (it only elides the
    per-query exchange) — and the plan must show no shuffle feeding the kernel."""
    r2 = IndexReader(spark, index_dir).cache_for_serving()
    try:
        for qid, qtext, k in reference_queries():
            if qid % 5:
                continue
            got = [(x["doc_id"], x["score"]) for x in r2.search(qtext, k).collect()]
            expected = oracle.search(qtext, k)
            assert [d for d, _ in got] == [d for d, _ in expected], f"q{qid}"
        df = r2.search("posting segment", 5)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the path kernel ← ... ← cache scan must contain NO per-query
        # Exchange (the only exchange is the one-time REPARTITION_BY_COL
        # inside the InMemoryRelation's cached plan)
        assert "InMemoryTableScan" in plan
        kernel_to_cache = plan.split("FlatMapGroupsInArrow", 1)[1].split(
            "InMemoryTableScan", 1
        )[0]
        assert "Exchange" not in kernel_to_cache
    finally:
        r2.index.unpersist()


def test_matching_count_exact(reader, oracle):
    """numFound fast path == scored doc-set count == oracle hit count
    (single-term df shortcut AND multi-term per-slice counting)."""
    for qtext in ["posting", "segment", "posting segment", "delta encode posting list"]:
        n = reader.matching_count(qtext)
        assert n == reader.scored_domain(qtext).select("doc_id").distinct().count(), qtext
        assert n == len(oracle.search(qtext, N_DOCS + 1)), qtext
    assert reader.matching_count("zzzabsent") == 0


def test_paging_offset(reader):
    full = [r["doc_id"] for r in reader.search("posting segment", 20).collect()]
    page2 = [r["doc_id"] for r in reader.search("posting segment", 5, offset=5).collect()]
    assert page2 == full[5:10]


def test_fetch_joins_stored_fields(reader):
    rows = reader.fetch(reader.search("posting segment", 5).collect())
    assert len(rows) == 5
    assert all(r["path"] and r["repo"] for r in rows)


def test_resume_byte_identical(spark, tmp_path):
    """FIXTURES.md §7 — interrupt after some segments, resume, byte-identical index."""
    out_full = str(tmp_path / "full")
    out_resume = str(tmp_path / "resumed")
    corpus = synth_corpus(spark, 200, hot_repeat=500)
    build_index(corpus, out_full, segment_size=16, num_salts=2, num_buckets=8)

    # simulate a crash: build only docs + a prefix of segments, then resume
    from solrutils_spark.index.docs import build_docs
    from solrutils_spark.index.segments import build_segments

    docs = build_docs(corpus)
    docs.write.mode("overwrite").parquet(str(Path(out_resume) / "docs.parquet"))
    docs_r = spark.read.parquet(str(Path(out_resume) / "docs.parquet"))
    build_segments(
        docs_r.filter("doc_id < 112"), out_resume, segment_size=16
    )  # 7 of 13 segments committed
    done = {json.loads(f.read_text())["segment_id"] for f in (Path(out_resume) / "lineage").glob("*.json")}
    assert len(done) == 7

    build_index(corpus, out_resume, segment_size=16, num_salts=2, num_buckets=8)
    lineage = read_lineage(spark, out_resume)
    assert lineage.count() == 13
    assert lineage.select("segment_id").distinct().count() == 13

    full_idx = spark.read.parquet(str(Path(out_full) / "index")).orderBy("term", "salt")
    res_idx = spark.read.parquet(str(Path(out_resume) / "index")).orderBy("term", "salt")
    a = [(r["term"], r["salt"], bytes(r["payload"])) for r in full_idx.collect()]
    b = [(r["term"], r["salt"], bytes(r["payload"])) for r in res_idx.collect()]
    assert a == b  # byte-identical per (term, salt)


@pytest.mark.parametrize("qid,qtext,k", [q for q in reference_queries() if q[0] % 3 == 0])
def test_search_local_rank_identical(reader, oracle, qid, qtext, k):
    """The pyarrow serving path must equal both the oracle and the Spark path."""
    expected = oracle.search(qtext, k)
    got = reader.search_local(qtext, k)
    assert [d for d, _ in got] == [d for d, _ in expected], f"q{qid} {qtext!r}"
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"q{qid} doc {gd}"


def test_search_local_offset(reader):
    full = reader.search_local("posting segment", 20)
    page = reader.search_local("posting segment", 5, offset=5)
    assert page == full[5:10]


def test_search_batch_rank_identical(reader, oracle):
    qs = [(qid, qtext, k) for qid, qtext, k in reference_queries() if qid % 4 == 0]
    out = reader.search_batch(qs)
    by_qid: dict = {}
    for r in out.collect():
        by_qid.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext, k in qs:
        expected = oracle.search(qtext, k)
        got = sorted(by_qid.get(qid, []))
        assert [d for _, d, _ in got] == [d for d, _ in expected], f"q{qid} {qtext!r}"
        for (_, gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, abs=1e-9), f"q{qid} doc {gd}"


def test_spellcheck_suggestions(spark, reader, index_dir):
    from solrutils_spark.query.spellcheck import spellcheck_query, suggest, vocabulary

    vocab = vocabulary(spark, index_dir)
    # "postin" is a typo of "posting" (in-vocab, high df)
    cands = suggest(vocab, "postin").collect()
    assert cands and cands[0]["suggestion"] == "posting"
    terms = ["postin", "segment"]
    dfs = reader.term_dfs(terms)
    section = spellcheck_query(vocab, terms, dfs)
    assert not section["correctlySpelled"]
    assert section["collation"] == "posting segment"
    assert section["suggestions"]["postin"][0]["word"] == "posting"


def test_spellcheck_band_is_recall_lossless_and_prunes_plan(spark):
    """Round-5 (verdict #7): the ±max_distance length band keeps every term
    within the edit budget (±1 silently dropped distance-2 length-diff-2
    corrections), and the band + first-char filters sit BELOW the
    levenshtein in the plan — the vocab scan is pruned before the expensive
    expression runs."""
    from solrutils_spark.query.spellcheck import suggest

    vocab = spark.createDataFrame(
        [("posting", 100), ("postingsxx", 3), ("post", 50), ("pos", 9)],
        "term string, df long",
    )
    # "postin" → "postingsxx" would need dist 4 (out); "post" is dist 2 with
    # length diff 2 — the old ±1 band dropped it
    got = [(r["suggestion"], r["distance"]) for r in suggest(vocab, "postin").collect()]
    assert ("post", 2) in got
    assert all(s != "postingsxx" for s, _ in got)

    # band + first-char predicates are present in the optimized plan (they
    # prune the vocab scan before levenshtein evaluates; AND short-circuits
    # left-to-right and Catalyst keeps the cheap band predicates first)
    plan = suggest(vocab, "postin")._jdf.queryExecution().optimizedPlan().toString()
    flt = next(ln for ln in plan.splitlines() if "Filter" in ln)
    assert "length(" in flt and "StartsWith" in flt and "levenshtein" in flt
    # AND short-circuits left-to-right: cheap band/prefix predicates must
    # appear before the levenshtein inside the Filter condition
    assert flt.find("length(") < flt.find("levenshtein")


def test_search_batch_filtered_rank_identical(spark, reader):
    """filter_df batch path (ONE cogroup job) == per-query search(filter_df=)."""
    allowed = [d for d in range(N_DOCS) if d % 3 == 0]
    fdf = spark.createDataFrame([(d,) for d in allowed], "doc_id long")
    qs = [(qid, qtext, k) for qid, qtext, k in reference_queries() if qid % 4 == 0]
    out = reader.search_batch(qs, filter_df=fdf)
    by_qid: dict = {}
    for r in out.collect():
        by_qid.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext, k in qs:
        expected = [(r["doc_id"], r["score"])
                    for r in reader.search(qtext, k, filter_df=fdf).collect()]
        got = sorted(by_qid.get(qid, []))
        assert [d for _, d, _ in got] == [d for d, _ in expected], f"q{qid} {qtext!r}"
        for (_, gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, abs=1e-12), f"q{qid} doc {gd}"
        # filter semantics: every hit is in the allowed set
        assert all(d % 3 == 0 for _, d, _ in got), f"q{qid}"


def test_doc_ids_dense_and_parallelism_invariant(spark):
    """doc_id is a pure function of the data with the DEFAULT bucket count
    (a constant, never cluster parallelism): identical ids at any input
    partitioning, and dense in [0, n)."""
    from pyspark.sql import functions as F

    from solrutils_spark.index.docs import build_docs

    corpus = synth_corpus(spark, 120, hot_repeat=100)
    a = build_docs(corpus.coalesce(1)).select("repo", "path", "commit", "doc_id")
    b = build_docs(corpus.repartition(7)).select(
        "repo", "path", "commit", F.col("doc_id").alias("doc_id_b")
    )
    n = a.count()
    ids = sorted(r["doc_id"] for r in a.collect())
    assert ids == list(range(n))  # dense
    mism = (
        a.join(b, ["repo", "path", "commit"])
        .filter("doc_id <> doc_id_b")
        .count()
    )
    assert mism == 0  # deterministic across parallelism


def test_resume_tolerates_torn_lineage(spark, tmp_path):
    """A torn (half-written) lineage JSON must not crash the resume build:
    the segment is treated as uncommitted, rebuilt, and stats stay exact."""
    out = str(tmp_path / "torn")
    corpus = synth_corpus(spark, 200, hot_repeat=500)
    build_index(corpus, out, segment_size=16, num_salts=2, num_buckets=8)
    f = sorted((Path(out) / "lineage").glob("seg=*.json"))[3]
    f.write_text(f.read_text()[:10])  # torn write
    stats = build_index(corpus, out, segment_size=16, num_salts=2, num_buckets=8)
    assert stats["n_docs"] == 200
    lineage = read_lineage(spark, out)
    assert lineage.count() == 13


def test_merge_single_exchange_plan(spark, tmp_path):
    """E3 plan pin: merge moves postings through EXACTLY ONE exchange, keyed
    by bucket alone — HashPartitioning([bucket]) satisfies the groupBy's
    ClusteredDistribution([bucket, salt]), and write_index reuses the
    bucket-aligned output without re-shuffling payloads (round 2 shuffled
    the full index twice; merge phase scaled at 0.48)."""
    from solrutils_spark.corpus import synth_corpus
    from solrutils_spark.index.docs import build_docs
    from solrutils_spark.index.merge import merge_segments
    from solrutils_spark.index.segments import build_segments, read_segments

    out = str(tmp_path / "plnchk")
    docs = build_docs(synth_corpus(spark, 300, hot_repeat=100))
    docs.write.parquet(out + "/docs.parquet")
    build_segments(
        spark.read.parquet(out + "/docs.parquet"), out, segment_size=64, resume=True
    )
    idx = merge_segments(read_segments(spark, out), num_salts=4, num_buckets=8,
                         n_segments=5)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(bucket" in plan


def test_maxscore_lookup_mode_engages_and_stays_exact(spark, tmp_path):
    """Round-5 MaxScore essential-terms cutoff: on a skewed query (one rare
    high-tf term + Zipf-hot tail terms) the kernels must (a) actually switch
    into lookup mode — pinned via ``KERNEL_STATS`` — and (b) return ids AND
    scores identical to the exhaustive oracle (prune-only contract)."""
    import numpy as np
    import pytest as _pytest

    from solrutils_spark.index.builder import build_index
    from solrutils_spark.oracle.reference_bm25 import OracleIndex
    from solrutils_spark.query import wand
    from solrutils_spark.query.engine import IndexReader
    from solrutils_spark.query.wand import topk_slice_batch

    rows = []
    for i in range(1500):
        toks = ["hotalpha"] * 2 + ["hotbeta"] * 3 + [f"filler{i % 41}"]
        if i % 180 == 0:  # 9 docs carry the rare, high-tf term
            toks += ["raretoken"] * 40
        rows.append(("r", f"f{i}.py", "c0", "py", " ".join(toks)))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path / "skewidx")
    build_index(corpus, out, segment_size=256, num_salts=2, num_buckets=8)
    reader = IndexReader(spark, out)
    oracle = OracleIndex([
        (r["doc_id"], r["content"])
        for r in reader.docs.select("doc_id", "content").collect()
    ])

    q = "raretoken hotalpha hotbeta"
    expected = oracle.search(q, 5)

    # serving kernel (topk_rows, driver-side): engagement visible in-process
    before = wand.KERNEL_STATS["lookup_on"]
    got = reader.search_local(q, k=5)
    assert wand.KERNEL_STATS["lookup_on"] > before, "lookup mode never engaged"
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == _pytest.approx(es, abs=1e-9), f"doc {gd}"

    # batch kernel (topk_slice_batch) is deliberately exhaustive (decode is
    # shared across the batch; MaxScore only pays where it gates decode) —
    # assert it does NOT engage lookup mode yet stays rank-identical
    from solrutils_spark.query.exact import query_terms

    terms = query_terms(q)
    dfs = reader.term_dfs(terms)
    plans = [(0, {t: reader.idf(dfs[t]) for t in terms if dfs.get(t)}, 5)]
    by_salt: dict = {}
    for row in reader._local_rows(terms):
        by_salt.setdefault(row.salt, []).append(row)
    before = wand.KERNEL_STATS["lookup_on"]
    merged = []
    for slice_rows in by_salt.values():
        for _qid, d, s in topk_slice_batch(
            slice_rows, plans, float(reader.stats["avgdl"])
        ):
            merged.extend(zip(d.tolist(), s.tolist()))
    assert wand.KERNEL_STATS["lookup_on"] == before, "batch kernel must stay exhaustive"
    merged.sort(key=lambda x: (-x[1], x[0]))
    got_b = merged[:5]
    assert [d for d, _ in got_b] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got_b, expected):
        assert gs == _pytest.approx(es, abs=1e-9), f"batch doc {gd}"

    # distributed batch path: parity end-to-end (counter lives in workers)
    res = reader.search_batch([(7, q, 5)]).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in res] == [
        (d, _pytest.approx(s, abs=1e-9)) for d, s in expected
    ]


def _cogroup_scan_paths(df) -> list[list[str]]:
    """Runs ``df``; returns the node names on every path of its executed
    (final adaptive) plan from the filter cogroup (``FlatMapCoGroupsInArrow``)
    down to an ``InMemoryTableScan``, the scan excluded."""
    df.collect()

    def children(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        if name.endswith("QueryStage"):
            return [node.plan()]
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    paths: list[list[str]] = []

    def walk(node, path):
        name = node.nodeName()
        if path is None and name.startswith("FlatMapCoGroupsInArrow"):
            path = []
        if path is not None and name == "InMemoryTableScan":
            paths.append(path)
            return
        for child in children(node):
            walk(child, None if path is None else [*path, name])

    walk(df._jdf.queryExecution().executedPlan(), None)
    return paths


def test_salted_filter_copartitions_and_is_rank_identical(spark, index_dir,
                                                          monkeypatch):
    """A persisted ``salted_filter`` frame is partitioned like the serving
    cache: fed to ``search(filter_df=)``, and built by the executor's
    filterCache for a distributed-route fq request, the cogroup reads both
    cached sides with no Exchange in between, and the ranks equal
    ``search_batch`` under the same filter exactly. A salted frame
    partitioned another way keeps the same results through the exchange
    Catalyst inserts."""
    from solrutils_spark.operators import executor as ex_mod
    from solrutils_spark.operators.executor import PlanExecutor
    from solrutils_spark.plans.plan import QueryPlan

    reader = IndexReader(spark, index_dir).cache_for_serving()
    n = reader._serving_partitions
    qtext = "posting segment lucene"
    ids = spark.createDataFrame([(d,) for d in range(0, N_DOCS, 3)], "doc_id long")
    fdf = reader.salted_filter(ids).persist()
    other = reader.salted_filter(ids).repartition(n + 1, "salt").persist()
    ex = PlanExecutor(reader.docs, reader)
    try:
        assert fdf.rdd.getNumPartitions() == n
        exp = _batch_ranked(reader, [(0, qtext, 10)], filter_df=fdf)[0]
        assert len(exp) == 10
        got = [(r["doc_id"], r["score"])
               for r in reader.search(qtext, 10, filter_df=fdf).collect()]
        assert got == exp
        paths = _cogroup_scan_paths(reader.search(qtext, 10, filter_df=fdf))
        assert len(paths) == 2, paths  # the index cache and the filter
        assert not any("Exchange" in name for p in paths for name in p), paths

        monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", -1)
        scored = []
        real = reader.scored_domain

        def spy(q, **kw):
            scored.append(real(q, **kw))
            return scored[-1]

        monkeypatch.setattr(reader, "scored_domain", spy)
        plan = QueryPlan()
        plan.set("q", qtext)
        plan.add("fq", "doc_id % 3 = 0")
        plan.set("rows", "10")
        rsp = ex.execute(plan)
        assert [(d["doc_id"], d["score"])
                for d in rsp["response"]["docs"]] == exp
        paths = _cogroup_scan_paths(scored[0])
        assert len(paths) == 2, paths
        assert not any("Exchange" in name for p in paths for name in p), paths

        got = [(r["doc_id"], r["score"])
               for r in reader.search(qtext, 10, filter_df=other).collect()]
        assert got == exp
        paths = _cogroup_scan_paths(reader.search(qtext, 10, filter_df=other))
        assert sum("Exchange" in name for p in paths for name in p) == 1, paths
    finally:
        for entry in ex._filter_cache.values():
            if entry.frame is not None:
                entry.frame.unpersist()
        fdf.unpersist()
        other.unpersist()
        reader.index.unpersist()


def test_serving_reader_concurrent_mixed_calls_equal_serial(spark, index_dir):
    """One serving reader, four threads, mixed driver and distributed calls
    (filtered by a persisted ``salted_filter`` frame too) under a shortened
    switch interval, with cold memos: every result equals the serial run's
    and the set of persisted RDDs is the same after the threads as
    before."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    def calls(reader, fdf):
        def rows(df):
            return [(r["doc_id"], r["score"]) for r in df.collect()]

        def scored(q):
            ids, scores = reader.scored_local(q)
            return ids.tolist(), scores.tolist()

        return [
            lambda: reader.search_local("posting segment", 10),
            lambda: reader.search_conj_local("posting segment", 10),
            lambda: scored("delta encode posting list"),
            lambda: rows(reader.search("hotTermZipfianStorm posting", 10)),
            lambda: rows(reader.search("posting segment lucene", 10,
                                       filter_df=fdf)),
        ]

    serial_reader = IndexReader(spark, index_dir).cache_for_serving()
    reader = IndexReader(spark, index_dir).cache_for_serving()
    ids = spark.createDataFrame([(d,) for d in range(0, N_DOCS, 3)], "doc_id long")
    fdf = reader.salted_filter(ids).persist()
    try:
        fdf.count()
        serial = [call() for call in calls(serial_reader, fdf)]
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(max_workers=4) as pool:
                futures = [pool.submit(call) for call in calls(reader, fdf) * 2]
                got = [f.result(timeout=600) for f in futures]
        finally:
            sys.setswitchinterval(interval)
        assert got == serial * 2
        assert set(jsc.getPersistentRDDs().keys()) == before
    finally:
        fdf.unpersist()
        reader.index.unpersist()
        serial_reader.index.unpersist()


def test_rows_from_arrow_sliced_table_matches_unsliced(index_dir):
    """The one Arrow adapter reads a sliced table (non-zero ListArray
    offset, as ``combine_chunks`` leaves a single sliced chunk) through the
    same zero-copy views: every row equals the matching unsliced row,
    including the positional sidecar columns."""
    import numpy as np
    import pyarrow.dataset as ds

    from solrutils_spark.query.arrow_rows import PostingRow, rows_from_arrow

    tbl = ds.dataset(str(Path(index_dir) / "index")).to_table().combine_chunks()
    assert "pos_payload" in tbl.column_names
    n = tbl.num_rows - 2
    sliced = tbl.slice(1, n)
    assert sliced.combine_chunks().column("block_offset").chunk(0).offset == 1
    full = rows_from_arrow(tbl)[1 : 1 + n]
    part = rows_from_arrow(sliced)
    assert len(part) == n
    for a, b in zip(full, part):
        for attr in PostingRow.__slots__:
            va, vb = getattr(a, attr), getattr(b, attr)
            if isinstance(va, np.ndarray):
                assert va.dtype == vb.dtype and np.array_equal(va, vb), attr
            else:
                assert va == vb, attr


def test_cache_for_serving_twice_keeps_one_cached_copy(spark, index_dir):
    """A second cache_for_serving call is a no-op: after two calls one
    persisted index frame remains, and results are unchanged."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    reader = IndexReader(spark, index_dir).cache_for_serving()
    first = reader.index
    try:
        assert reader.cache_for_serving() is reader
        assert reader.index is first and first.is_cached
        assert len(set(jsc.getPersistentRDDs().keys()) - before) == 1
        got = [r["doc_id"] for r in reader.search("posting segment", 5).collect()]
        want = [r["doc_id"] for r in
                IndexReader(spark, index_dir).search("posting segment", 5).collect()]
        assert got == want
    finally:
        reader.index.unpersist()


def test_format_version_gate(spark, index_dir, tmp_path):
    """build_index stamps FORMAT_VERSION into stats.json; an index whose
    stats.json lacks it, or carries another value, is refused when opened."""
    stats = json.loads((Path(index_dir) / "stats.json").read_text())
    assert stats["format_version"] == FORMAT_VERSION
    missing = {k: v for k, v in stats.items() if k != "format_version"}
    for name, bad in [("missing", missing), ("old", {**stats, "format_version": 0})]:
        d = tmp_path / name
        d.mkdir()
        (d / "stats.json").write_text(json.dumps(bad))
        with pytest.raises(ValueError, match="format_version"):
            IndexReader(spark, str(d))
