"""docs table build: dedup (unique-key upsert) + dense doc_id + sha256 invariant.

Reference semantics covered:
- unique-key identity / upsert (E9): the reference resolves documents by the
  schema uniqueKey (BulkUpdateHandler.java:34,91). Our key is (repo, path);
  latest ``commit`` wins — a window row_number, never a driver loop.
- stored-field retention (S3 "store raw XML" analog, XsltUpdateHandler.java:
  156-189): ``content`` is kept as a column and its sha256 recorded, giving
  the per-row invariant vs the source table required by BASELINE.json.

doc_id contract (SURVEY.md §7.0): dense int64 in [0, n) — deterministic for a
given input regardless of partitioning. The total order realizing the ids is
(key-hash bucket, repo, path, commit): a pure function of the data, so two
builds of the same corpus (at ANY parallelism) assign identical ids.

Scale note (round 3): a naive ``row_number() over (order by ...)`` collapses
to ONE partition, and the round-2 fix (repartitionByRange + local rank +
per-partition offsets) still paid a corpus-size-independent multi-job floor —
the range-partitioner SAMPLING job + a per-partition COUNT job + a broadcast
join (~6 s at any scale; measured 0.45 phase efficiency in BENCH/BASELINE.md).
Hash-bucketing removes the sampler and the join: bucket assignment is
``xxhash64(key) % P`` (no sampling pass), per-bucket counts ride on the ONE
aggregation job that also materializes the skinny-key cache, and the bucket →
offset map is a tiny literal array lookup (no broadcast join). One keyed
shuffle total, same as any dense-id scheme must pay. A side benefit at 100 TB:
segments (doc_id ranges) become uniform hash samples of the corpus instead of
lexicographic (repo-clustered) runs — per-segment token counts equalize, so no
hot repo can straggle a segment task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Default id-bucket count. A CONSTANT, not defaultParallelism: the bucket a
# key lands in is part of the doc_id value, so deriving P from cluster size
# would make ids differ between a local[4] and a local[32] build of the same
# corpus (breaking the §7.0 pure-function-of-data contract). 1024 buckets keep
# the per-bucket counts job and the offset literal array trivial while giving
# every realistic cluster full shuffle parallelism. Changing it changes every
# doc_id: it is a determinism-affecting build constant, like segment_size.
_ID_BUCKETS = 1024


def dedup_latest_commit(corpus: DataFrame) -> DataFrame:
    """E9 unique-key upsert: keep the lexicographically-max commit per (repo, path)."""
    w = Window.partitionBy("repo", "path").orderBy(
        F.col("commit").desc(), F.col("content").desc()
    )
    return (
        corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def assign_doc_ids(
    corpus: DataFrame,
    cache_registry: list | None = None,
) -> DataFrame:
    """Add dense deterministic ``doc_id`` — one counting job, one shuffle.

    Scheme: ``bucket = pmod(xxhash64(repo, path, commit), P)``; rank rows
    within each bucket by (repo, path, commit); ``doc_id = offset[bucket] +
    local_rank`` where offsets are prefix sums of the per-bucket counts.
    Dense, and with P = ``_ID_BUCKETS`` (a constant) a pure function of the
    data — independent of the input's physical partitioning AND of cluster
    size (pinned by test_doc_ids_dense_and_parallelism_invariant).

    Jobs: exactly ONE extra action (the per-bucket counts — P longs to the
    driver); the rank+offset arithmetic rides inside whatever action consumes
    the result. No range-sampler pass, no offsets broadcast join (the bucket →
    offset map is a P-element literal array — trivial at P=1024).

    The tagged keys are PERSISTED internally: the counts job and the final
    rank run as two separate actions, and without a cache a
    nondeterministic / re-read source could produce mismatched counts vs
    ranks (non-dense or colliding ids). Persisting inside the function makes
    the determinism contract unconditional; pass ``cache_registry`` (as
    ``build_docs`` does) to unpersist once the result is materialized.
    Without a registry the keys are eagerly ``localCheckpoint``-ed instead —
    same determinism, no session-lifetime CacheManager entry to leak.
    """
    P = _ID_BUCKETS
    from pyspark import StorageLevel

    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(P)).cast("int")
    # ONE explicit exchange on _bkt, sized to the cluster (defaultParallelism
    # scales with cores; partition count never affects the ids — they come
    # from bucket counts + rank within bucket): both downstream consumers —
    # the counts aggregation AND the rank window — cluster by _bkt, so
    # HashPartitioning(_bkt) satisfies them and Catalyst elides their
    # exchanges. Without this the cached keys sit at
    # spark.sql.shuffle.partitions and BOTH stages re-shuffle at that width
    # (event-log evidence at 20k docs/local[32]: three 128-task skinny-key
    # stages, 0.6+0.4+5.5 s — all fixed task floor, no data).
    n_parts = max(1, int(corpus.sparkSession.sparkContext.defaultParallelism))
    tagged = corpus.withColumn("_bkt", bucket).repartition(n_parts, "_bkt")
    if cache_registry is not None:
        tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
        cache_registry.append(tagged)
    else:
        # no unpersist hook for direct callers: an eager localCheckpoint
        # materializes the tagged keys (the determinism contract still holds
        # unconditionally) WITHOUT a CacheManager entry that would outlive
        # the caller — the blocks are freed by the ContextCleaner once the
        # result goes out of scope, instead of leaking for the session
        tagged = tagged.localCheckpoint(eager=True)
    counts = {
        r["_bkt"]: r["cnt"]
        for r in tagged.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for b in range(P):
        offsets.append(acc)
        acc += int(counts.get(b, 0))
    off_col = F.element_at(
        F.array(*[F.lit(o) for o in offsets]), F.col("_bkt") + 1
    ).cast("long")
    w = Window.partitionBy("_bkt").orderBy("repo", "path", "commit")
    return (
        tagged.withColumn("_lrn", F.row_number().over(w))
        .withColumn("doc_id", (off_col + F.col("_lrn") - 1).cast("long"))
        .drop("_bkt", "_lrn")
    )


def build_docs(
    corpus: DataFrame,
    cache_registry: list | None = None,
) -> DataFrame:
    """corpus → docs(doc_id, repo, path, commit, lang, content, content_sha256).

    **Skinny-key plan**: dedup (E9) and dense-id assignment both run over
    (repo, path, commit) keys only — ``content`` bytes are NEVER shuffled (at
    10^12 files the content column is ~the whole corpus; shuffling it twice
    for id assignment was the build's dominant serial cost). The ranked key
    table then joins back to the corpus on the unique key.

    Exact-duplicate (repo, path, commit) rows (possible only in malformed
    inputs — commits are content hashes) yield duplicate doc_ids after the
    join, which the segment builder rejects loudly (doc_id uniqueness assert).

    ``doc_len`` is attached later by the postings build (it is defined as the
    post-analysis token count, so it falls out of tokenization — one pass).

    ``cache_registry``: if given, DataFrames persisted internally are appended
    to it so the caller can ``unpersist()`` them once the result is
    materialized (build_index does — otherwise the skinny-key cache pins
    executor storage for the application's lifetime in long-lived sessions).
    """
    keys = corpus.select("repo", "path", "commit")

    # E9 upsert on keys only: latest commit per (repo, path). PERSIST the
    # skinny result: id assignment needs two passes over it (bucket counts +
    # the final rank/join) and each would otherwise recompute the SOURCE scan
    # — expensive when the source is a generator/UDF or a non-pruning format.
    # Keys are 3 short strings/row (MEMORY_AND_DISK spills fine; at petabyte
    # scale this is the standard skinny-side cache, ~1e-4 of corpus bytes).
    from pyspark import StorageLevel

    latest = (
        keys.groupBy("repo", "path")
        .agg(F.max("commit").alias("commit"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cache_registry is not None:
        cache_registry.append(latest)
    # dense ids on the skinny key table (one counts job — fills the cache too)
    ranked = assign_doc_ids(latest, cache_registry)
    # single wide pass: join ids onto the corpus (content moves once, into
    # the join — hash-partitioned by the unique key, no sort of content)
    docs = corpus.join(ranked, ["repo", "path", "commit"])
    return docs.withColumn("content_sha256", F.sha2(F.col("content"), 256)).select(
        "doc_id", "repo", "path", "commit", "lang", "content", "content_sha256"
    )
