"""E3 — term-partitioned shuffle merge of segments, hot-term salting built in.

Lucene merges segments in background threads (implicit in the reference; the
commit at BulkUpdateHandler.java:150 publishes them). Our merge is one
shuffle: ``groupBy(bucket, salt)`` + ``applyInPandas``, where each group
(≤ num_buckets × num_salts groups) merges ALL of its terms in two vectorized
codec passes — ``decode_many`` over the sorted segment rows, ``encode_many``
over the concatenation (codec.py). No per-term Python loop anywhere: measured
~150μs/group pandas overhead made per-(term,salt) grouping the build
bottleneck at realistic (Zipfian) vocabularies.

**Salting = the index's term-sharding.** ``salt = segment_id // g`` slices
the doc space into ``num_salts`` ordered ranges that are THE SAME for every
term, so:

- a hot term (``def``-in-Python scale: df ~ 10^11 at 10^12 files) never lands
  in one reducer — its postings split across ``num_salts`` tasks and stay
  split as multiple index rows (no second-stage giant concat *ever*);
- query-side WAND groups rows by salt and processes doc-range slices of the
  whole query independently — embarrassingly parallel top-k, merged by a
  global ``orderBy().limit(k)``.

The merged index is written partitioned by ``bucket = crc32(term) % B``:
a query touching T terms reads at most T bucket directories (file pruning via
a partition-column filter — Catalyst-native, the Parquet stand-in for Iceberg
``bucket(term, B)`` partitioning at cluster scale).
"""

from __future__ import annotations

import zlib
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solrutils_spark.index.codec import (
    decode_many,
    encode_many,
    position_layout_from_bytes,
)

INDEX_DDL = (
    "bucket int, term string, salt int, df_part long, first_doc long, last_doc long, "
    "payload binary, block_offset array<int>, block_last array<long>, "
    "block_max_tf array<int>, block_min_dl array<int>, "
    "pos_payload binary, pos_block_offset array<int>"
)

DEFAULT_BUCKETS = 64


def term_bucket(term: str, num_buckets: int = DEFAULT_BUCKETS) -> int:
    """Deterministic term → partition bucket; MUST match the Column expr in
    :func:`bucket_col` (zlib.crc32 == java.util.zip.CRC32 — pinned by test)."""
    return zlib.crc32(term.encode("utf-8")) % num_buckets


def bucket_col(term_col, num_buckets: int):
    return F.pmod(F.crc32(F.encode(term_col, "UTF-8")), F.lit(num_buckets)).cast("int")


def _merge_bucket_salt(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge ALL terms of one (bucket, salt) group — two codec passes."""
    bucket = int(pdf["bucket"].iloc[0])
    salt = int(pdf["salt"].iloc[0])
    pdf = pdf.sort_values(["term", "first_doc"], kind="mergesort")
    ns = pdf["n"].to_numpy(np.int64)
    docs, tfs, dls = decode_many(pdf["payload"].tolist(), ns)

    term_per_row = pdf["term"].to_numpy()
    uniq_terms, row_counts = np.unique(term_per_row, return_counts=True)
    # postings per term = sum of row n within term (rows are term-sorted)
    row_term_id = np.repeat(np.arange(len(uniq_terms)), row_counts)
    term_counts = np.bincount(row_term_id, weights=ns).astype(np.int64)

    enc = encode_many(term_counts, docs, tfs, dls)
    T = len(uniq_terms)
    term_starts = np.zeros(T, dtype=np.int64)
    np.cumsum(term_counts[:-1], out=term_starts[1:])
    payload = enc.payload
    from solrutils_spark.index.segments import _split_list

    # positional sidecar: every posting's position stream is self-contained
    # (first position absolute), so the merged stream is the BYTE
    # concatenation of the segment rows in this same (term, first_doc) order;
    # only the (term, block) offsets need recomputing — a terminator scan,
    # no decode (codec.position_layout_from_bytes).
    pos_buf = np.frombuffer(
        b"".join(bytes(p) for p in pdf["pos_payload"]), dtype=np.uint8
    )
    lay = position_layout_from_bytes(pos_buf, tfs, term_counts)

    return pd.DataFrame(
        {
            "bucket": np.full(T, bucket, dtype=np.int32),
            "term": uniq_terms,
            "salt": np.full(T, salt, dtype=np.int32),
            "df_part": enc.n_per_term,
            "first_doc": docs[term_starts],
            "last_doc": enc.block_last[enc.blocks_per_term[1:] - 1],
            "payload": [
                payload[enc.term_byte_start[t] : enc.term_byte_end[t]].tobytes()
                for t in range(T)
            ],
            "block_offset": _split_list(enc.block_offset, enc.blocks_per_term),
            "block_last": _split_list(enc.block_last, enc.blocks_per_term),
            "block_max_tf": _split_list(enc.block_max_tf, enc.blocks_per_term),
            "block_min_dl": _split_list(enc.block_min_dl, enc.blocks_per_term),
            "pos_payload": [
                pos_buf[lay.term_byte_start[t] : lay.term_byte_end[t]].tobytes()
                for t in range(T)
            ],
            "pos_block_offset": _split_list(lay.block_offset, lay.blocks_per_term),
        }
    )


def salt_group(n_segments: int, num_salts: int) -> int:
    """Segments per salt slice: ``salt = segment_id // g``. Deterministic from
    (n_segments, num_salts) so query-side code can recompute a doc's salt from
    its doc_id alone (salt = doc_id // (segment_size·g))."""
    return max(1, -(-n_segments // num_salts))  # ceil


def merge_segments(
    segments: DataFrame,
    num_salts: int = 4,
    num_buckets: int = DEFAULT_BUCKETS,
    n_segments: int | None = None,
) -> DataFrame:
    """segments → merged, salted, bucketed index DataFrame.

    ``n_segments``: pass it when known (build_index reads it from the local
    lineage dir for free) — otherwise one extra Spark aggregation job runs
    just to find max(segment_id)."""
    if n_segments is None:
        n_segments = (segments.agg(F.max("segment_id")).collect()[0][0] or 0) + 1
    g = salt_group(n_segments, num_salts)
    salted = segments.withColumn(
        "salt", (F.col("segment_id") / F.lit(g)).cast("int")
    ).withColumn("bucket", bucket_col(F.col("term"), num_buckets))
    # ONE payload shuffle, keyed by bucket alone: HashPartitioning([bucket])
    # satisfies the groupBy's ClusteredDistribution([bucket, salt]) (a
    # partitioning on a SUBSET of the grouping keys co-locates every group),
    # so Catalyst adds only a partition-local sort — no second exchange —
    # AND the kernel's output partitions are bucket-aligned, so write_index
    # can partitionBy("bucket") directly without re-shuffling the payloads.
    # (Round 2 shuffled the full index twice: groupBy(bucket,salt) + a
    # repartition(bucket) in the write — the merge phase scaled at 0.48
    # because the duplicated payload movement is disk-bandwidth-bound.)
    # Partition count (round 6): hashing B bucket values into exactly B
    # partitions leaves ~e⁻¹ empty and doubles-up others, so oversubscribe —
    # but cap the oversubscription at ~2× the cluster's core count: every
    # empty partition still launches a python-kernel task (~14 ms measured),
    # and the flat 4B=256 of rounds 2-5 made the merge stage 3.6 s on a
    # 2,000-doc index at local[32] (pure task floor). min(4B,
    # max(B, 2·defaultParallelism)) keeps ≥1 partition per bucket, restores
    # the full 4B spread as soon as cores ≫ buckets (a real cluster), and
    # costs bench-scale builds only ~2 waves of collision-doubled tasks.
    parallelism = segments.sparkSession.sparkContext.defaultParallelism
    n_parts = min(4 * num_buckets, max(num_buckets, 2 * int(parallelism)))
    return (
        salted.repartition(n_parts, "bucket")
        .groupBy("bucket", "salt")
        .applyInPandas(_merge_bucket_salt, schema=INDEX_DDL)
    )


def write_index(index: DataFrame, out_dir: str, num_buckets: int = DEFAULT_BUCKETS) -> None:
    """Write the merged index partitioned by bucket.

    NO repartition here: :func:`merge_segments` already shuffles by bucket,
    so its output partitions are bucket-aligned and ``partitionBy`` produces
    the same one-file-per-bucket layout with ZERO additional payload
    movement. (An index DataFrame from another source still writes
    correctly — just with more files per bucket directory.)"""
    (
        index.sortWithinPartitions("term", "salt")  # row-group min/max stats
        # on term → parquet predicate pushdown skips row groups at query time
        .write.mode("overwrite")
        .option("parquet.block.size", 1024 * 1024)
        # snappy, NOT the session's zstd default: the index is the
        # SERVING-latency artifact — zstd decode on the pyarrow read path
        # cost ~10-25% of 1M-doc p50; build-internal artifacts (docs,
        # segments) stay zstd where bytes, not decode latency, dominate
        .option("compression", "snappy")
        .partitionBy("bucket")
        .parquet(str(Path(out_dir) / "index"))
    )


def read_index(spark, out_dir: str, with_positions: bool = False) -> DataFrame:
    """Read the merged index. Positions are DROPPED by default so the
    serving cache / candidate scans never touch the sidecar bytes (parquet
    column pruning keeps them off disk reads too); the phrase path passes
    ``with_positions=True``."""
    df = spark.read.parquet(str(Path(out_dir) / "index"))
    if not with_positions:
        df = df.drop("pos_payload", "pos_block_offset")
    return df
