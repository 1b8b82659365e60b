"""Benchmark harness — prints ONE JSON line the driver records per round.

Components (all timed separately, reported in "queries"; every plan shape
is warmed untimed first — the timed number tracks the engine, not JIT):
- index_build         : full Layer-A build (tokenize → segments → salted
                        merge → stats) over the materialized synthetic corpus
- bm25_batch          : ALL reference queries in ONE distributed job against
                        the salt-partitioned serving cache (min-of-2, raws
                        disclosed in extra.bm25_batch_raws)
- bm25_local_batch    : per-query pyarrow serving path; p50/p95 in extra
- bm25_filtered[_batch]: scored+fq through the distributed cogroup filter
                        path (per-query loop + one-job batch twin)
- bm25_conj_batch     : ALL multi-term queries as conjunctions (q.op=AND)
                        in ONE job through the block-skipping intersection
                        kernel; driver-local p50 in extra.bm25_conj_p50_ms
- phrase              : exact-phrase query (positional-sidecar kernel)
- boolean_query       : parsed Lucene-syntax boolean (+must "phrase" -not)
- bm25_topk           : exact-DataFrame BM25 entry (driver-gate twin)
- facet_field / json_facet_nested / topn_events / sort_paging / semi_join /
  ann_cosine          : headline relational operators at $SPARK_GRAFT_SF_DIR
- minhash_dedup       : MinHash+LSH near-dup pairs (all-JVM signatures)
- simhash_dedup       : JVM simhash + pigeonhole hamming pairs
- dedup_clusters      : connected-components keep/drop resolution

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_DOCS (default 20000).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from solrutils_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    spark = get_spark(app_name="solrutils-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from solrutils_spark.corpus import reference_queries, synth_corpus
    from solrutils_spark.index.builder import build_index
    from solrutils_spark.operators.dedup import minhash_dedup_pairs
    from solrutils_spark.query.engine import IndexReader

    # warm the session (same as bench_scaling.py): fork the python worker
    # pool at full width + JIT scan paths, so one-time JVM/worker startup
    # (~9 s measured) is not attributed to the first timed component
    spark.range(0, cpus * 1000, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long").count()

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # 1. index build throughput. The corpus is MATERIALIZED to parquet
    # untimed first (same methodology as bench_scaling.py): at deployment
    # scale the build reads from storage, so timing the in-UDF synthetic
    # generator inside the build would measure the data generator, not the
    # engine. Generation wall time is reported separately (gen_sec).
    out_dir = tempfile.mkdtemp(prefix="bench_idx_")
    warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
    # leftover bench dirs are the biggest noise source on this box (a
    # near-full /tmp stalls ext4 allocation and slows identical builds ~3x)
    atexit.register(lambda: (shutil.rmtree(out_dir, ignore_errors=True),
                             shutil.rmtree(warm_dir, ignore_errors=True)))
    t0 = time.perf_counter()
    synth_corpus(spark, n_docs, hot_repeat=100_000).write.mode("overwrite").parquet(
        out_dir + "/corpus.parquet")
    extra["gen_sec"] = round(time.perf_counter() - t0, 3)
    corpus = spark.read.parquet(out_dir + "/corpus.parquet")
    # warmup iteration: the FIRST build in a session pays ~6-9 s of one-time
    # JVM codegen/JIT for the build pipeline (measured: 22.3 s then 13.6 s
    # for identical back-to-back sf0.1 builds) — run a small build untimed so
    # the timed number tracks the engine, not JIT warmup
    build_index(corpus.limit(2000), warm_dir,
                segment_size=1024, num_salts=8, num_buckets=64)
    # Floor 1024: below ~1k docs/segment the Python kernel's fixed cost
    # dominates (measured at sf0.1/local[32]: 156-doc segments → 885 docs/s,
    # 1024 → 1,452 docs/s). Large corpora keep ≥4 segment tasks per core.
    seg_size = max(1024, n_docs // (cpus * 4))
    stats = timed("index_build", lambda: build_index(
        corpus, out_dir, segment_size=seg_size, num_salts=8, num_buckets=64))
    extra["index_docs_per_sec"] = round(n_docs / timings["index_build"], 1)
    extra["index_total_tokens"] = stats["total_tokens"]

    # 2. BM25 query latency over the built index
    reader = IndexReader(spark, out_dir).cache_for_serving()  # salt-partitioned
    # hot cache: per-query groupBy(salt) exchange is elided (PLANS.md §10)
    qset = reference_queries()
    # Symmetric warmup (same methodology as index_build): the FIRST
    # batch-kernel job in a JVM pays ~1.5 s of one-time codegen + Arrow-plan
    # setup regardless of index size (measured at sf0.1: 2.32 s then
    # 0.73-0.92 s for identical batches — the round-3 "2x bm25_batch
    # regression" was exactly this warmup landing inside the timed window).
    # Pay it untimed against the tiny warm index so the timed line tracks
    # the serving kernel, then report BOTH timed runs raw.
    warm_reader = IndexReader(spark, warm_dir).cache_for_serving()
    warm_reader.search_batch(qset).count()
    warm_reader.index.unpersist()
    batch_raws: list[float] = []
    for _ in range(2):
        t0 = time.perf_counter()
        reader.search_batch(qset).count()  # ALL queries, one distributed job
        batch_raws.append(round(time.perf_counter() - t0, 3))
    timings["bm25_batch"] = min(batch_raws)
    extra["bm25_batch_raws"] = batch_raws
    extra["bm25_batch_qps"] = round(len(qset) / timings["bm25_batch"], 2)
    extra["bm25_queries"] = len(qset)

    # serving-path latency: same index, same WAND kernel, pyarrow read on the
    # driver — the single-node-latency twin of the reference's Lucene searcher
    lat_local: list[float] = []
    t0 = time.perf_counter()
    for _qid, qtext, k in qset:
        s = time.perf_counter()
        reader.search_local(qtext, k)
        lat_local.append(time.perf_counter() - s)
    timings["bm25_local_batch"] = round(time.perf_counter() - t0, 3)
    extra["bm25_p50_ms"] = round(1000 * statistics.median(lat_local), 1)
    extra["bm25_p95_ms"] = round(1000 * sorted(lat_local)[int(0.95 * len(lat_local))], 1)

    # scored+fq via the distributed cogroup filter path (round 2: no driver
    # collect, WAND stays on) — broad ~1/3 filter over the built corpus
    # persisted as salted_filter returns it (salted, partitioned like the
    # serving cache), like Solr's filterCache DocSet (the executor's
    # filterCache does the same): the cogroup runs no per-query exchange
    fdf = reader.salted_filter(
        reader.docs.filter("pmod(doc_id, 3) = 0").select("doc_id")
    ).persist()
    fdf.count()
    t0 = time.perf_counter()
    for _qid, qtext, k in qset[::4]:
        reader.search(qtext, k, filter_df=fdf).count()
    timings["bm25_filtered"] = round(time.perf_counter() - t0, 3)

    # batched filtered search: the WHOLE query set under the same fq in ONE
    # cogroup job (round 2 paid one kernel job per filtered query)
    t0 = time.perf_counter()
    reader.search_batch(qset, filter_df=fdf).count()
    timings["bm25_filtered_batch"] = round(time.perf_counter() - t0, 3)
    extra["bm25_filtered_batch_qps"] = round(
        len(qset) / timings["bm25_filtered_batch"], 2)

    # 2b. boolean surface (round 5): conjunctive queries (block-skipping
    # intersection kernel), an exact-phrase query (positional sidecar), and a
    # parsed Lucene-syntax boolean — same index, same warmup methodology
    from solrutils_spark.functions.analyzer import analyze
    from solrutils_spark.query.qparser import execute_boolean

    conj_qs = [(i, q, 10) for i, q in enumerate(
        q for _, q, _ in qset if len(set(q.split())) >= 2)]
    reader.search_conj_batch(conj_qs[:2]).count()  # warm the batch plan shape
    t0 = time.perf_counter()
    reader.search_conj_batch(conj_qs).count()
    timings["bm25_conj_batch"] = round(time.perf_counter() - t0, 3)
    extra["conj_queries"] = len(conj_qs)
    extra["bm25_conj_batch_qps"] = round(
        len(conj_qs) / timings["bm25_conj_batch"], 2)
    lat = []
    for _, q, k in conj_qs:
        t0 = time.perf_counter()
        reader.search_conj_local(q, k)
        lat.append((time.perf_counter() - t0) * 1e3)
    extra["bm25_conj_p50_ms"] = round(statistics.median(lat), 1)

    row0 = reader.docs.orderBy("doc_id").select("content").first()
    phrase_q = " ".join(analyze(row0["content"])[:2])  # realized bigram
    reader.phrase_search(phrase_q, 10).count()  # warm
    t0 = time.perf_counter()
    reader.phrase_search(phrase_q, 10).count()
    timings["phrase"] = round(time.perf_counter() - t0, 3)

    w1, w2 = conj_qs[0][1].split()[:2]
    bool_q = f'+{w1} "{phrase_q}" -{w2}'
    execute_boolean(reader, bool_q, 10).count()  # warm
    t0 = time.perf_counter()
    execute_boolean(reader, bool_q, 10).count()
    timings["boolean_query"] = round(time.perf_counter() - t0, 3)

    # 3. headline relational / pipeline operators on the sf tables
    qs = entry.queries()
    for name in ["bm25_topk", "facet_field", "json_facet_nested", "topn_events",
                 "sort_paging", "semi_join", "ann_cosine"]:
        timed(name, lambda n=name: qs[n](spark, sf_dir).collect())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    from solrutils_spark.operators.dedup import simhash_near_dups, simhash_signatures_jvm

    # symmetric warmup for the dedup plan shapes (same methodology as the
    # build and batch-query lines): the first run of each plan in a JVM pays
    # ~1-2 s of one-time codegen — measured at sf0.1: minhash signatures
    # steady-state 3.5 s vs 5.9-6.9 s single-shot bench lines across rounds.
    # A 200-doc slice compiles the same plans for well under a second.
    warm_docs = docs.limit(200)
    minhash_dedup_pairs(warm_docs, num_perm=32, bands=8, threshold=0.9,
                        shingle_k=3).count()
    simhash_near_dups(simhash_signatures_jvm(warm_docs), max_hamming=3).count()

    timed("minhash_dedup", lambda: minhash_dedup_pairs(
        docs, num_perm=32, bands=8, threshold=0.9, shingle_k=3).count())
    timed("simhash_dedup", lambda: simhash_near_dups(
        simhash_signatures_jvm(docs), max_hamming=3).count())
    timed("dedup_clusters", lambda: qs["dedup_clusters"](spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "engine_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "bench_docs": n_docs,
        "extra": extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
