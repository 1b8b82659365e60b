"""Round-6 auxiliary measurements (guide §1.4 noop-sink isolation).

`bench.py` is FROZEN (driver contract); this harness isolates the round-6
optimization targets with the noop sink so the computation is timed without
the sink, and prints per-component JSON. Used for the before/after evidence
in OPTIMIZATION_r06.md; NOT part of the driver contract.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from solrutils_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    spark = get_spark(app_name="solrutils-bench-extra",
                      master=f"local[{cpus}]", shuffle_partitions=4 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    from solrutils_spark.corpus import synth_corpus
    from solrutils_spark.index.builder import build_index
    from solrutils_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_signatures_jvm,
        simhash_near_dups,
        simhash_signatures_jvm,
    )
    from solrutils_spark.query.engine import IndexReader
    from solrutils_spark.query.qparser import execute_boolean

    spark.range(0, cpus * 1000, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long").count()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, list[float]] = {}

    def timed(name, fn, warm=True):
        if warm:
            fn()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(round(time.perf_counter() - t0, 3))
        out[name] = ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    warm = docs.limit(200)

    sc.setJobDescription("extra: minhash signatures (noop)")
    noop(minhash_signatures_jvm(warm, num_perm=32, shingle_k=3))
    timed("minhash_signatures_noop",
          lambda: noop(minhash_signatures_jvm(docs, num_perm=32, shingle_k=3)))
    sc.setJobDescription("extra: minhash pipeline")
    minhash_dedup_pairs(warm, num_perm=32, bands=8, threshold=0.9,
                        shingle_k=3).count()
    timed("minhash_pipeline",
          lambda: minhash_dedup_pairs(docs, num_perm=32, bands=8,
                                      threshold=0.9, shingle_k=3).count())
    sc.setJobDescription("extra: simhash signatures (noop)")
    noop(simhash_signatures_jvm(warm))
    timed("simhash_signatures_noop",
          lambda: noop(simhash_signatures_jvm(docs)))
    sc.setJobDescription("extra: simhash pipeline")
    simhash_near_dups(simhash_signatures_jvm(warm), max_hamming=3).count()
    timed("simhash_pipeline",
          lambda: simhash_near_dups(simhash_signatures_jvm(docs),
                                    max_hamming=3).count())

    # engine section: 20k synthetic index (same geometry as bench.py)
    root = tempfile.mkdtemp(prefix="bextra_")
    atexit.register(lambda: shutil.rmtree(root, ignore_errors=True))
    sc.setJobDescription("extra: corpus gen")
    synth_corpus(spark, 20000, hot_repeat=100_000).write.mode(
        "overwrite").parquet(root + "/corpus.parquet")
    corpus = spark.read.parquet(root + "/corpus.parquet")
    build_index(corpus.limit(2000), root + "/warm",
                segment_size=1024, num_salts=8, num_buckets=64)
    bt = []
    for rep in range(reps):
        sc.setJobDescription(f"extra: index build rep{rep}")
        d = root + f"/b{rep}"
        t0 = time.perf_counter()
        build_index(corpus, d, segment_size=1024, num_salts=8, num_buckets=64)
        bt.append(round(time.perf_counter() - t0, 3))
        if rep:
            shutil.rmtree(d, ignore_errors=True)
    out["index_build"] = bt

    reader = IndexReader(spark, root + "/b0").cache_for_serving()
    from solrutils_spark.functions.analyzer import analyze

    row0 = reader.docs.orderBy("doc_id").select("content").first()
    phrase_q = " ".join(analyze(row0["content"])[:2])
    sc.setJobDescription("extra: phrase (positions path)")
    timed("phrase_search", lambda: reader.phrase_search(phrase_q, 10).count())
    bool_q = f'+posting "{phrase_q}" -segment'
    sc.setJobDescription("extra: boolean query")
    timed("boolean_query", lambda: execute_boolean(reader, bool_q, 10).count())

    from solrutils_spark.corpus import reference_queries

    qset = reference_queries()
    fdf = reader.salted_filter(
        reader.docs.filter("pmod(doc_id, 3) = 0").select("doc_id")
    ).persist()
    fdf.count()
    reader.search(qset[0][1], 10, filter_df=fdf).count()
    sc.setJobDescription("extra: filtered per-query loop")

    def filt_loop():
        for _qid, qtext, k in qset[::4]:
            reader.search(qtext, k, filter_df=fdf).count()

    timed("bm25_filtered_loop", filt_loop)
    sc.setJobDescription(None)
    print(json.dumps({"metric": "bench_extra", "cpus": cpus,
                      "sf_dir": sf_dir, "reps": reps, "components": out}))
    spark.stop()


if __name__ == "__main__":
    main()
