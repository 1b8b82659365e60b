"""Dedup / similarity / textstats operator tests (sf0.001 data)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from solrutils_spark.operators.dedup import (
    dedup_clusters,
    dedup_exact_keep_first,
    near_dup_keep,
    embedding_near_dups,
    exact_duplicates,
    hash_bytes,
    hash_bytes_batch,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    minhash_signatures_jvm,
    ngram_jaccard_all_pairs,
    simhash_near_dups,
    simhash_signatures,
    simhash_signatures_jvm,
)
from solrutils_spark.operators.similarity import (
    assign_centroids,
    cosine_topk_brute,
    ivf_topk,
    train_centroids,
)
from solrutils_spark.operators.textstats import (
    detect_language,
    fingerprint,
    quality_features,
    token_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog again and again today"),  # near dup
        (4, "completely different text about spark inverted index engines"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(dup_docs):
    groups = exact_duplicates(dup_docs).collect()
    assert len(groups) == 1
    assert groups[0]["ids"] == [1, 2]
    kept = dedup_exact_keep_first(dup_docs)
    assert kept.count() == 4
    assert kept.filter("doc_id = 2").count() == 0


def test_minhash_lsh_finds_near_dup(dup_docs):
    pairs = minhash_dedup_pairs(
        dup_docs, num_perm=64, bands=16, threshold=0.5, shingle_k=3
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # exact dup survives
    assert (1, 3) in found or (2, 3) in found  # near dup found
    assert all({a, b} <= {1, 2, 3} for a, b in found)  # doc 4/5 never matched


def test_minhash_signature_determinism(dup_docs):
    s1 = {r["doc_id"]: r["signature"] for r in minhash_signatures(dup_docs).collect()}
    s2 = {r["doc_id"]: r["signature"] for r in minhash_signatures(dup_docs).collect()}
    assert s1 == s2
    assert s1[1] == s1[2]  # identical text → identical signature


def test_lsh_identical_signatures_always_candidates(dup_docs):
    sigs = minhash_signatures(dup_docs)
    cands = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, bands=8).collect()}
    assert (1, 2) in cands


def test_simhash(dup_docs):
    sigs = simhash_signatures(dup_docs)
    by_id = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    assert by_id[1] == by_id[2]
    pairs = simhash_near_dups(sigs, max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found[(1, 2)] == 0


def test_hash_bytes_batch_golden():
    """Vectorized FNV must be value-identical to the scalar reference."""
    strs = ["", "a", "hello world", "ü" * 5, "x" * 300, "def foo(bar):", " ", "\x00y"]
    got = hash_bytes_batch(strs)
    ref = np.array([hash_bytes(s.encode("utf-8")) for s in strs], dtype=np.uint64)
    assert (got == ref).all()
    # known FNV-1a vectors (public test vectors)
    assert hash_bytes(b"") == 0xCBF29CE484222325
    assert hash_bytes(b"a") == 0xAF63DC4C8601EC8C


def test_minhash_signature_golden(spark):
    """Pin the FNV/Carter-Wegman signature values (vectorization must not
    change them)."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    sig = minhash_signatures(df, num_perm=4, shingle_k=3).first()["signature"]
    # derived from the scalar round-1 kernel (hash_bytes + uint64-wrap CW perm)
    from solrutils_spark.operators.dedup import _MERSENNE, _minhash_params, _shingles

    a, b = _minhash_params(4)
    sh = _shingles("the quick brown fox jumps over the lazy dog", 3)
    hv = np.array([hash_bytes(s.encode("utf-8")) for s in sh], dtype=np.uint64)
    vals = (a[:, None] * (hv[None, :] % _MERSENNE) + b[:, None]) % _MERSENNE
    assert sig == vals.min(axis=1).astype(np.int64).tolist()


def test_simhash_signed_votes(dup_docs):
    """Round-2 fix: majority vote must be signed — near-dups land close in
    hamming space, unrelated docs far (the uint64-wrap bug made everything
    collide near all-ones)."""
    by_id = {r["doc_id"]: r["simhash"] for r in
             simhash_signatures(dup_docs).collect()}
    ham = lambda x, y: bin((int(x) ^ int(y)) & ((1 << 64) - 1)).count("1")
    assert ham(by_id[1], by_id[3]) <= 12  # one-token edit stays close
    assert ham(by_id[1], by_id[4]) >= 16  # unrelated text is far
    assert int(by_id[5]) == 0  # empty doc


def test_jvm_signatures(dup_docs):
    sigs = {r["doc_id"]: r["signature"] for r in
            minhash_signatures_jvm(dup_docs, num_perm=16, shingle_k=3).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    assert sigs[1] != sigs[4]
    assert sigs[5] == [(1 << 63) - 1] * 16  # empty doc → sentinel
    sh = {r["doc_id"]: r["simhash"] for r in
          simhash_signatures_jvm(dup_docs).collect()}
    assert sh[1] == sh[2]
    assert int(sh[5]) == 0
    ham = lambda x, y: bin((int(x) ^ int(y)) & ((1 << 64) - 1)).count("1")
    assert ham(sh[1], sh[3]) <= 12
    assert ham(sh[1], sh[4]) >= 16
    # full pipeline on the JVM path still finds the planted dups
    pairs = minhash_dedup_pairs(
        dup_docs, num_perm=64, bands=16, threshold=0.5, shingle_k=3, impl="jvm"
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found and ((1, 3) in found or (2, 3) in found)


def test_lsh_remainder_bands_participate(spark):
    """bands∤num_perm: trailing signature values must still form a band."""
    sig_a = list(range(30))
    sig_b = [100 + i for i in range(27)] + [27, 28, 29]  # agrees ONLY on tail 3
    sigs = spark.createDataFrame(
        [(1, sig_a), (2, sig_b)], "doc_id long, signature array<long>"
    )
    cands = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, bands=8).collect()}
    # base=3, rem=6 → band 7 covers positions 27..29 (0-indexed), which agree
    assert (1, 2) in cands


def test_lsh_hot_bucket_cap(spark):
    """Degenerate corpus (identical docs) must produce bounded pair output."""
    sigs = spark.createDataFrame(
        [(i, [7, 7, 7, 7]) for i in range(100)], "doc_id long, signature array<long>"
    )
    uncapped = lsh_candidate_pairs(sigs, bands=2).count()
    assert uncapped == 100 * 99 // 2  # full clique
    capped = lsh_candidate_pairs(sigs, bands=2, max_bucket_size=5).count()
    assert capped == 5 * 4 // 2  # lowest 5 ids per bucket only
    # deterministic: kept ids are the lowest
    kept = lsh_candidate_pairs(sigs, bands=2, max_bucket_size=5)
    assert kept.agg(F.max("id_b")).first()[0] == 4


def test_dedup_corpus_end_to_end(spark):
    """One-call dedup: exact dups collapse, near-dup chains keep one doc,
    unique docs survive."""
    base = "the quick brown fox jumps over the lazy dog again and again today ok"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1 → dropped
        (3, base.replace("today", "tonight")),       # near dup of 1 → dropped
        (4, "completely different text about spark inverted index engines here"),
        (5, "another unrelated document mentioning pasta sauce and cooking"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from solrutils_spark.operators.dedup import dedup_corpus

    kept = sorted(r["doc_id"] for r in dedup_corpus(
        df, num_perm=64, bands=16, threshold=0.5, shingle_k=3
    ).collect())
    assert kept == [1, 4, 5]


def test_dedup_corpus_plan_is_bounded(documents):
    """Scale shape: the one-call dedup plan must contain NO cartesian product
    anywhere — every pair generation goes through keyed (band/bucket) joins."""
    from solrutils_spark.operators.dedup import dedup_corpus

    out = dedup_corpus(documents.select("doc_id", "text"), shingle_k=3)
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_clusters_long_chain(spark):
    """Connected components: a 50-hop chain (adversarial diameter — pointer
    jumping must converge in O(log n) rounds), two small cliques, singletons."""
    chain = [(i, i + 1) for i in range(100, 150)]
    cliques = [(1, 2), (2, 3), (1, 3), (7, 8)]
    pairs = spark.createDataFrame(chain + cliques, "id_a long, id_b long")
    # force the DISTRIBUTED loop (threshold=0) — the default would take the
    # driver union-find fast path on a graph this small
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, driver_edge_threshold=0).collect()
    }
    assert all(comp[i] == 100 for i in range(100, 151))
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[8] == 7
    # the driver fast path must agree exactly
    comp_fast = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert comp_fast == comp

    allv = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 8, 99]], "doc_id long")
    kept = {r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in near_dup_keep(allv, spark.createDataFrame(cliques, "id_a long, id_b long")).collect()}
    assert kept[1] == (1, True) and kept[2] == (1, False) and kept[3] == (1, False)
    assert kept[7] == (7, True) and kept[8] == (7, False)
    assert kept[99] == (99, True)  # singleton keeps itself


def test_ngram_jaccard_exhaustive(dup_docs):
    pairs = ngram_jaccard_all_pairs(dup_docs, threshold=0.4, shingle_k=3).collect()
    d = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert d[(1, 2)] == 1.0
    assert 0.4 <= d[(1, 3)] < 1.0


def test_embedding_near_dups_exact_vs_lsh(embeddings):
    sub = embeddings.limit(120)
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(sub, threshold=0.9).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dups(sub, threshold=0.9, n_planes=4).collect()}
    assert lsh <= exact  # LSH only prunes, never fabricates


def test_cosine_topk_brute_matches_numpy(embeddings):
    rows = embeddings.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = list(X[0])
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:5]
    expect = [(int(ids[i]), float(cos[i])) for i in order]
    got = [(r["vec_id"], r["cosine"]) for r in cosine_topk_brute(embeddings, q, 5).collect()]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for g, e in zip(got, expect):
        assert g[1] == pytest.approx(e[1], abs=1e-9)


def test_ivf_prunes_but_scores_exact(embeddings):
    q = list(embeddings.first()["embedding"])
    cents = train_centroids(embeddings, n_centroids=8, sample=500)
    assigned = assign_centroids(embeddings, cents).cache()
    assert assigned.select("centroid_id").distinct().count() <= 8
    brute = [(r["vec_id"], r["cosine"]) for r in cosine_topk_brute(embeddings, q, 5).collect()]
    ivf = [(r["vec_id"], r["cosine"]) for r in ivf_topk(assigned, cents, q, 5, n_probe=8).collect()]
    assert ivf == brute  # probing ALL centroids == exact


def test_ann_ivf_entry_pruned_path_identical(spark):
    """entry:ann_ivf probes ALL centroids (n_probe=8 ⇒ provably exact, DuckDB
    oracle-checked); this test keeps the PRUNED path exercised on clustered
    data (the geometry real embedding tables have — the sf testdata vectors
    are near-uniform, where any IVF must lose recall): n_probe=2 of 8 returns
    the SAME rows as the full probe, and the scores are exact cosines."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16)) * 4.0
    X = np.concatenate(
        [c + rng.normal(scale=0.15, size=(250, 16)) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    qvec = [float(x) for x in X[0]]
    cents = train_centroids(df, n_centroids=8, sample=2_000, order_col="vec_id")
    assigned = assign_centroids(df, cents).cache()
    full = ivf_topk(assigned, cents, qvec, k=10, n_probe=8).collect()
    pruned = ivf_topk(assigned, cents, qvec, k=10, n_probe=2).collect()
    assigned.unpersist()
    assert [(r["vec_id"], r["cosine"]) for r in pruned] == [
        (r["vec_id"], r["cosine"]) for r in full
    ]


def test_train_centroids_deterministic_with_order_col(spark):
    """order_col pins the sample: same centroids from differently-partitioned
    inputs (plain limit() is partitioning-dependent)."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = train_centroids(e.repartition(7), n_centroids=4, sample=300, order_col="vec_id")
    b = train_centroids(e.coalesce(1), n_centroids=4, sample=300, order_col="vec_id")
    assert np.array_equal(a, b)


def test_langid(spark):
    rows = [
        (1, "the cat and the dog are in the house with it"),
        (2, "der hund und die katze sind nicht in das haus"),
        (3, "le chat est dans la maison pour les enfants avec une"),
        (4, "xyzzy plugh 12345"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang_pred"] for r in detect_language(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_features(documents):
    q = quality_features(documents, "text")
    row = q.filter("q_chars > 0").first()
    assert 0.0 <= row["q_score"] <= 1.0
    assert 0.0 <= row["q_punct_ratio"] <= 1.0
    assert q.count() == documents.count()


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "don't count, me twice!"), (2, "")], "id long, text string")
    rows = {r["id"]: r for r in token_counts(df).collect()}
    assert rows[1]["tok_ws"] == 4
    # don | 't | count | , | me | twice | !
    assert rows[1]["tok_bpeish"] == 7
    assert rows[2]["tok_ws"] == 0


def test_fingerprint(spark):
    df = spark.createDataFrame(
        [
            (1, "The  quick   brown fox jumped over the lazy dog near the river bank"),
            (2, "the quick brown fox jumped over the lazy dog near the river bank"),
            (3, "something else entirely different here that shares nothing at all"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r for r in fingerprint(df).collect()}
    assert rows[1]["fp_md5"] == rows[2]["fp_md5"]  # whitespace/case-normalized
    assert rows[1]["fp_winnow"] == rows[2]["fp_winnow"]
    overlap = set(rows[1]["fp_winnow"]) & set(rows[3]["fp_winnow"])
    assert len(overlap) == 0


def test_shingles_col_matches_python_on_boundary_whitespace(spark):
    """_shingles_col must equal str.split()-based _shingles exactly — incl.
    boundary \\t/\\n/\\r (a trailing newline must NOT inject a phantom empty
    token that perturbs every shingle; ADVICE r2)."""
    from solrutils_spark.operators.dedup import _shingles, _shingles_col

    texts = [
        "alpha beta gamma delta epsilon zeta\n",
        "\talpha beta",
        "a b\r\n",
        "",
        "   ",
        "one two\nthree four five six \n",
        "x\ty\nz w v u t",
        # Unicode whitespace (ADVICE r3: Java \s is ASCII-only by default;
        # Python str.split() also splits NBSP, NEL, LINE SEP, IDEOGRAPHIC
        # SPACE and the U+001C..1F separators — _WS_RE must match them all)
        "alpha\u00a0beta gamma\u00a0delta epsilon zeta",
        "a\u001cb\u3000c d e f",
        "x\u2028y\u0085z\u001fw\u001dv u",
        "nel\u0085sep\u2029ok fine then\u00a0",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [list(r["s"]) for r in
           df.select(_shingles_col(F.col("text"), 5).alias("s")).collect()]
    for t, g in zip(texts, got):
        assert g == _shingles(t or "", 5), repr(t)


def test_shingle_tokens_materialized_once(spark):
    """The shingle hot paths must keep the token array in its OWN projection:
    inlining filter(split(text)) into the shingle builder re-evaluates the
    split per shingle INDEX — O(tokens²) interpreted eval (the r4 1M probe
    measured 790 s signatures / 1,411 s verify from exactly this). Pin the
    optimized-plan shape so a CollapseProject change can't reintroduce it."""
    from solrutils_spark.operators.dedup import (
        _with_shingle_arr, minhash_signatures_jvm, verify_ngram_jaccard)

    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array(*[(F.col("id") * (j + 1) % 13).cast("string")
                                   for j in range(12)])).alias("text"))

    def nsplits(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("split(")

    # one tokenizer eval per row in each shingle-producing subplan
    assert nsplits(_with_shingle_arr(docs, "text", 5, "sh")) == 1
    assert nsplits(minhash_signatures_jvm(docs, num_perm=8)) == 1
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    # verify has two join sides over the shared sets frame → exactly 2
    assert nsplits(verify_ngram_jaccard(pairs, docs)) == 2


def test_dedup_corpus_cache_registry_equivalent(spark):
    """dedup_corpus(cache_registry=...) must return the same surviving rows
    as the uncached call, hand back persisted frames, and leave nothing
    cached after the caller unpersists them."""
    from solrutils_spark.operators.dedup import dedup_corpus

    rows = []
    for g in range(30):
        base = f"line{g} " + " ".join(f"w{g}_{j}" for j in range(12))
        rows.append((g * 10, base))
        rows.append((g * 10 + 1, base))                       # exact dup
        rows.append((g * 10 + 2, base + " tail"))             # near dup
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    reg: list = []
    got = sorted(r.doc_id for r in dedup_corpus(
        docs, bands=16, threshold=0.5, shingle_k=3, cache_registry=reg).collect())
    assert reg, "registry should receive the persisted intermediates"
    for c in reg:
        c.unpersist(blocking=True)
    assert not any(c.is_cached for c in reg)
    reg2: list = []
    want = sorted(r.doc_id for r in dedup_corpus(
        docs, bands=16, threshold=0.5, shingle_k=3, cache_registry=reg2).collect())
    for c in reg2:
        c.unpersist(blocking=True)
    assert got == want


def test_similarity_large_dim_smoke(spark):
    """Bounded-memory guarantees at realistic embedding scale: 768-dim
    vectors with 64 centroids (chunked ||x||²+||c||²−2x·c assignment — never
    the (sample × centroids × dim) broadcast tensor) and 32 hyperplanes
    shipped via broadcast variable (round 2 inlined an O(planes × dim)
    literal into the plan)."""
    import numpy as np

    from solrutils_spark.operators.similarity import assign_centroids, train_centroids

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(768).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    cents = train_centroids(df, n_centroids=64, sample=300, iters=2)
    assert cents.shape == (64, 768)
    assigned = assign_centroids(df, cents)
    got = assigned.groupBy("centroid_id").count().collect()
    assert sum(r["count"] for r in got) == 300
    # brute-force argmin agreement on a spot sample
    X = np.array([r[1] for r in rows[:20]])
    d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = d.argmin(axis=1)
    by_id = {r["doc_id"]: r["centroid_id"] for r in assigned.collect()}
    assert [by_id[i] for i in range(20)] == list(want)

    from solrutils_spark.operators.dedup import embedding_near_dups

    # plan must stay small: hyperplanes ride a broadcast, not literals
    dup = rows[:50] + [(1000 + i, rows[i][1]) for i in range(5)]
    ddf = spark.createDataFrame(dup, "vec_id long, embedding array<double>")
    out = embedding_near_dups(ddf, threshold=0.999, n_planes=32)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(i, 1000 + i) for i in range(5)} <= pairs


def test_dedup_clusters_self_pairs_both_paths(spark):
    """Degenerate (a, a) self-pairs yield a singleton cluster on BOTH paths
    (round-3 verdict: the driver path's x<y filter used to drop them while
    the distributed path returned them)."""
    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (9, 9)], "id_a long, id_b long")
    want = {1: 1, 2: 1, 5: 5, 9: 9}
    fast = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    dist = {r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs, driver_edge_threshold=0).collect()}
    assert fast == want
    assert dist == want


def test_assign_doc_ids_internal_persist(spark):
    """ADVICE r3: the two-action id assignment persists the tagged keys
    internally (counts and ranks must see the same rows even for a
    nondeterministic / re-read source); the registry hands the cache back
    to the caller for cleanup."""
    from solrutils_spark.index.docs import assign_doc_ids

    df = spark.createDataFrame([("r", f"p{i:03d}", "c") for i in range(50)],
                               "repo string, path string, commit string")
    reg = []
    out = assign_doc_ids(df, cache_registry=reg)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == list(range(50))
    assert len(reg) == 1 and reg[0].is_cached
    for c in reg:
        c.unpersist()


def test_ivf_probe_is_partition_pruning(spark, tmp_path):
    """The 100 TB claim for IVF (BENCH/ANN_PROBE.json) rests on the probe
    filter becoming PARTITION pruning when the table is written
    partitionBy(centroid_id) — pin the plan shape, not just the wall."""
    import numpy as np

    from solrutils_spark.operators.similarity import (
        assign_centroids, ivf_topk, train_centroids)

    rng = np.random.default_rng(11)
    rows = [(i, (rng.standard_normal(8) + (i % 4) * 3).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_centroids(df, n_centroids=4, sample=200)
    out = str(tmp_path / "ivf.parquet")
    assign_centroids(df, cents).write.partitionBy("centroid_id").parquet(out)
    tbl = spark.read.parquet(out)
    plan = ivf_topk(tbl, cents, rows[0][1], k=5, n_probe=1)._jdf.queryExecution().executedPlan().toString()
    import re as _re
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "centroid_id" in m.group(1), plan[:2000]
    # and the probe actually restricts: n_probe=1 of 4 cells
    got = ivf_topk(tbl, cents, rows[0][1], k=5, n_probe=1).collect()
    assert 0 < len(got) <= 5
