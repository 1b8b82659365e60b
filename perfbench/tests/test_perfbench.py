"""The benchmark's own tests: input generation, the result contract and
top-k parity with the pure-Python oracle.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import inputs  # noqa: E402
import run  # noqa: E402
from solrutils_spark.functions.analyzer import analyze  # noqa: E402
from solrutils_spark.query.qparser import is_lucene_syntax  # noqa: E402

VOCAB = {f"r{i:03d}": 1 + i % 5 for i in range(60)}  # df <= 5
VOCAB.update({f"m{i:03d}": 6 + i % 4 for i in range(30)})  # mid: 5 < df <= 10
VOCAB.update({f"h{i:03d}": 500 + i for i in range(10)})  # > 1% of 1000
DOCS = [(("py", "java", "go")[i % 3],
         " ".join(f"w{(i * 7 + j) % 40} x{j}" for j in range(12)))
        for i in range(30)]


def test_generators_are_deterministic_per_seed_and_cover_df_classes():
    classes = inputs.df_classes(VOCAB, 1000)
    assert {c: len(v) for c, v in classes.items()} == {"rare": 60, "mid": 30, "hot": 10}
    a = inputs.point_queries(7, classes, DOCS, 200)
    assert a == inputs.point_queries(7, classes, DOCS, 200)
    assert a != inputs.point_queries(8, classes, DOCS, 200)
    used = {t for kind, q in a if kind == "disj" for t in q.split()}
    for cls, terms in classes.items():
        assert used & set(terms), f"no query drew a {cls} term"
    assert {kind for kind, _ in a[3::inputs.CONJ_EVERY]} == {"conj"}
    for kind, q in a:
        if kind == "conj":  # adjacent terms of one document: they co-occur
            assert any(q in " ".join(analyze(c)) for _, c in DOCS)

    r = inputs.json_requests(7, classes, DOCS, 40)
    assert r == inputs.json_requests(7, classes, DOCS, 40)
    assert [req["filter"]["lang"] for req in r[:2]] == list(inputs.FQ_LANGS)
    for req in r:  # one term of a document in the filtered language
        word = req["query"].split()[0]
        assert any(word in analyze(c) for lang, c in DOCS
                   if lang == req["filter"]["lang"])
    luc = inputs.lucene_requests(7, classes, DOCS, 10)
    assert luc == inputs.lucene_requests(7, classes, DOCS, 10)
    assert all(is_lucene_syntax(req["query"]) for req in luc)


def test_tail_has_ten_samples_beyond_it():
    lat = [float(i) for i in range(1, 1001)]
    pct, val = run.tail(lat)
    assert pct == 99.0 and val == 990.0
    assert sum(x > val for x in lat) == 10


def test_benchmark_json_matches_the_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_exits_nonzero_without_the_library(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "local_query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0 and '"metrics"' not in out.stdout


TINY = ("import sys, run; run.N_DOCS, run.SEGMENT_SIZE = 200, 50; "
        "run.POINT_POOL, run.POINT_WARM, run.BATCH_N = 300, 10, 10; "
        "sys.exit(run.main(sys.argv[1:]))")


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace)],
        cwd=BENCH, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.layer_units() if trace else run.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float | int), name
    assert not (ROOT / ".perfbench_work").exists()


@pytest.fixture(scope="module")
def tiny_index(tmp_path_factory):
    from solrutils_spark.index.builder import build_index
    from solrutils_spark.query.engine import IndexReader
    from solrutils_spark.session import get_spark

    out = tmp_path_factory.mktemp("idx")
    spark = get_spark(app_name="perfbench-tests", master="local[2]",
                      shuffle_partitions=4,
                      extra_conf={"spark.local.dir": str(out),
                                  "spark.driver.extraJavaOptions":
                                      f"-Djava.io.tmpdir={out} -XX:-UsePerfData"})
    corpus = spark.createDataFrame(inputs.corpus_sample(5, 240))
    stats = build_index(corpus, str(out / "index"), segment_size=30,
                        num_salts=run.NUM_SALTS, num_buckets=run.NUM_BUCKETS,
                        resume=False)
    yield IndexReader(spark, str(out / "index")), stats
    spark.stop()


def test_local_topk_matches_the_oracle(tiny_index):
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from solrutils_spark.oracle.reference_bm25 import OracleIndex

    reader, stats = tiny_index
    docs = pq.read_table(Path(reader.index_dir) / "docs.parquet",
                         columns=["doc_id", "lang", "content"])
    oracle = OracleIndex(list(zip(docs.column("doc_id").to_pylist(),
                                  docs.column("content").to_pylist())))
    tdf = ds.dataset(str(Path(reader.index_dir) / "termdf")).to_table()
    classes = inputs.df_classes(
        dict(zip(tdf.column("term").to_pylist(), tdf.column("df").to_pylist())),
        stats["n_docs"])
    sample = list(zip(docs.column("lang").to_pylist(),
                      docs.column("content").to_pylist()))
    queries = inputs.point_queries(11, classes, sample, 60)
    for kind, q in queries:
        if kind == "conj":
            got, want = reader.search_conj_local(q, run.TOP_K), oracle.search_conj(q, run.TOP_K)
        else:
            got, want = reader.search_local(q, run.TOP_K), oracle.search(q, run.TOP_K)
        assert want, q
        assert run.same_ranking(got, want), q
