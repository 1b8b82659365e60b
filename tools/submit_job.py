"""spark-submit entrypoint: build + query through `--py-files` packaging.

The north rule requires the engine to "run via spark-submit --py-files on
multi-executor clusters" (BASELINE.json). This driver script is the
evidence path: it imports ``solrutils_spark`` ONLY from what spark-submit
ships (the zip passed via ``--py-files``), never from a repo checkout on
sys.path, builds an index over the deterministic synthetic corpus, runs
BM25 queries through the WAND kernel on the executors, and re-checks the
per-row ``sha256(content)`` invariant against the source table — then
prints one JSON line a harness can assert on.

Usage (tests/test_components.py::test_spark_submit_py_files packages the
zip and runs exactly this):

    python -m zipfile -c /tmp/solrutils_spark.zip solrutils_spark
    cd /tmp && spark-submit --master local[8] \
        --py-files /tmp/solrutils_spark.zip \
        /path/to/tools/submit_job.py /tmp/idx_dir 2000

Unlike ``session.get_spark`` (which puts the package root on the python
workers' path via ``spark.executorEnv.PYTHONPATH``), this path relies
purely on Spark's own py-files distribution — the same mechanism a
1000-executor cluster uses — so it catches any import that accidentally
leans on the driver's working directory.
"""
from __future__ import annotations

import json
import sys


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/submit_job_idx"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 2000

    # builder-only session: master / py-files come from the spark-submit CLI
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.appName("solrutils-spark-submit-smoke")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )

    from solrutils_spark.corpus import synth_corpus
    from solrutils_spark.index.builder import build_index
    from solrutils_spark.query.engine import IndexReader

    corpus = synth_corpus(spark, n_docs)
    stats = build_index(corpus, out_dir)

    reader = IndexReader(spark, out_dir)
    hits = reader.search("parseDateTime QueryBuilder", k=5).collect()
    empty = reader.search("zzzabsentterm", k=5).collect()

    # per-row invariant vs the source table (input_hint): content sha256
    # equality — join docs back to the corpus on the natural key and count
    # mismatches between the recorded sha and a fresh sha of source content.
    docs = reader.docs
    mismatches = (
        docs.join(corpus, ["repo", "path", "commit"])
        .where(F.sha2(corpus["content"], 256) != F.col("content_sha256"))
        .count()
    )

    print(
        json.dumps(
            {
                "metric": "spark_submit_smoke",
                "n_docs": stats["n_docs"],
                "top1_doc": hits[0].doc_id if hits else None,
                "top1_score": round(hits[0].score, 6) if hits else None,
                "k_returned": len(hits),
                "absent_returns": len(empty),
                "sha256_mismatches": mismatches,
                "ok": bool(hits) and not empty and mismatches == 0,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
