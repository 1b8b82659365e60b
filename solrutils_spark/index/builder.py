"""Index build orchestrator — corpus → docs → segments → merged index → stats.

One lineage-tracked batch job (the Spark equivalent of the reference's
`/update` + commit lifecycle, SURVEY.md §3.2). All stages are resumable:

- docs table: rewritten only if absent (deterministic given the corpus),
- segments: per-partition lineage skip (segments.py),
- merged index + stats: overwrite-atomic (parquet job commit).

Layout under ``out_dir``::

    docs.parquet/           doc_id, repo, path, commit, lang, content, content_sha256
    segments/seg=<k>.parquet
    lineage/seg=<k>.json
    index/bucket=<b>/...    merged, salted, term-bucketed postings
    termdf/bucket=<b>/...   term → global df sidecar
    doclen/                 doc_id → doc_len sidecar
    stats.json              {format_version, n_docs, avgdl, total_tokens,
                             num_buckets, num_salts, segment_size,
                             n_segments, salt_group}

``format_version`` stamps the on-disk layout (Lucene's index format
version): :func:`read_stats` refuses any other value instead of keeping a
reader alive for layouts no current build writes.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solrutils_spark.index.docs import build_docs
from solrutils_spark.index.merge import (
    DEFAULT_BUCKETS,
    merge_segments,
    read_index,
    salt_group,
    write_index,
)
from solrutils_spark.index.segments import build_segments, read_lineage, read_segments

# Bump on any change to the on-disk layout; read_stats refuses other values.
FORMAT_VERSION = 1


def build_index(
    corpus: DataFrame,
    out_dir: str,
    *,
    segment_size: int = 4096,
    num_salts: int = 4,
    num_buckets: int = DEFAULT_BUCKETS,
    resume: bool = True,
) -> dict:
    """Full build. Returns the stats dict. Idempotent / resumable."""
    spark = corpus.sparkSession
    out = Path(out_dir)
    docs_path = out / "docs.parquet"

    if not resume:
        # a fresh build must not inherit stale state: a previous larger
        # corpus in the same out_dir would otherwise leak committed
        # seg=N files into the merge and inflate n_docs/avgdl
        for sub in ("segments", "lineage", "doclen"):
            shutil.rmtree(out / sub, ignore_errors=True)

    sc = spark.sparkContext
    if not (resume and docs_path.exists()):
        caches: list = []
        sc.setJobDescription("index_build: docs (dedup + dense ids)")
        docs = build_docs(corpus, cache_registry=caches)
        docs.write.mode("overwrite").parquet(str(docs_path))
        for c in caches:  # skinny-key cache is dead once docs.parquet exists
            c.unpersist()
    docs = spark.read.parquet(str(docs_path))

    sc.setJobDescription("index_build: segments (tokenize + encode)")
    build_segments(docs, out_dir, segment_size=segment_size, resume=resume)
    # lineage is driver-local JSON — aggregate without any Spark job.
    # Tolerant parse (same rules as committed_segments): a torn lineage file
    # for a segment NOT rebuilt in this run (resume path) must not crash the
    # aggregation — skip unparseable rows, count only committed ones.
    lin_rows = []
    for f in sorted((out / "lineage").glob("seg=*.json")):
        try:
            row = json.loads(f.read_text())
        except ValueError:
            continue
        if row.get("status") == "committed":
            lin_rows.append(row)
    n_docs = sum(int(r["rows_in"]) for r in lin_rows)
    total_tokens = sum(int(r["tokens"]) for r in lin_rows)
    n_segments = (max((int(r["segment_id"]) for r in lin_rows), default=-1)) + 1

    segments = read_segments(spark, out_dir)
    sc.setJobDescription("index_build: merge + write index")
    index = merge_segments(
        segments, num_salts=num_salts, num_buckets=num_buckets, n_segments=n_segments
    )
    write_index(index, out_dir, num_buckets=num_buckets)

    # term→df sidecar, bucket-partitioned: query-time df lookups become a
    # direct (pyarrow) read of ≤ |terms| bucket files instead of a Spark job —
    # drops ~300ms of per-query scheduling floor (A10 broadcast-stats analog).
    # ONE exchange keyed by bucket alone: the groupBy's
    # ClusteredDistribution([bucket, term]) is satisfied by the bucket
    # partitioning (subset rule, same trick as the merge), and the output
    # partitions are already bucket-aligned for the partitioned write —
    # rounds 2-5 paid a (bucket, term) exchange PLUS a repartition(bucket).
    sc.setJobDescription("index_build: termdf sidecar")
    idx = read_index(spark, out_dir)
    (
        idx.select("bucket", "term", "df_part")
        .repartition(num_buckets, "bucket")
        .groupBy("bucket", "term")
        .agg(F.sum("df_part").alias("df"))
        .write.mode("overwrite")
        .option("compression", "snappy")  # serving-read artifact, like index
        .partitionBy("bucket")
        .parquet(str(out / "termdf"))
    )
    sc.setJobDescription(None)

    stats = {
        "format_version": FORMAT_VERSION,
        "n_docs": n_docs,
        "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        "total_tokens": total_tokens,
        "num_buckets": num_buckets,
        "num_salts": num_salts,
        "segment_size": segment_size,
        "n_segments": n_segments,
        # salt = doc_id // (segment_size · salt_group): lets query-side code
        # map any doc_id to its index slice without touching the index
        "salt_group": salt_group(n_segments, num_salts),
    }
    (out / "stats.json").write_text(json.dumps(stats))
    return stats


def read_stats(out_dir: str) -> dict:
    """stats.json of a built index; raises ``ValueError`` unless it was
    written by a build of the current :data:`FORMAT_VERSION`."""
    stats = json.loads((Path(out_dir) / "stats.json").read_text())
    found = stats.get("format_version")
    if found != FORMAT_VERSION:
        raise ValueError(
            f"index at {out_dir} has format_version={found!r}, this reader "
            f"needs format_version={FORMAT_VERSION}; rebuild it with "
            "build_index(..., resume=False)"
        )
    return stats


def read_docs(spark: SparkSession, out_dir: str) -> DataFrame:
    """docs table with ``doc_len`` from the doclen sidecar (0 for a doc the
    sidecar lacks)."""
    docs = spark.read.parquet(str(Path(out_dir) / "docs.parquet"))
    dl_path = Path(out_dir) / "doclen"
    if dl_path.exists():
        dl = spark.read.parquet(str(dl_path))
        docs = docs.join(dl, "doc_id", "left").fillna({"doc_len": 0})
    return docs


__all__ = [
    "FORMAT_VERSION", "build_index", "read_stats", "read_docs", "read_index",
    "read_lineage",
]
