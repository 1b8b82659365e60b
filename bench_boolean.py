"""Boolean-surface probe at 1M docs (round 5).

Two questions only a big index can answer:

1. **Does conjunction block skipping pay?** `conj_slice` decodes the rarest
   term fully, then later terms decode only blocks that can contain a
   surviving candidate. At sf0.1 the hot term has a handful of blocks —
   nothing to skip. At 1M docs a `rare AND hot` query should decode a small
   fraction of the hot term's postings. A/B: the SAME `search_conj` job
   with `needed_block_runs` monkeypatched to return the full block range
   (decode-all control) vs the shipped skip path — identical results
   (asserted), different decode volume.
2. **Is the phrase kernel bounded the way the design claims?** A phrase
   whose rarest term is rare ⇒ few conjunctive candidates whose positions
   get decoded; wall should sit near the conj wall plus a small position
   decode term, NOT near a corpus-sized pass.

Method: build the 1M index once at local[8] (fixed geometry, byte-identical
regardless of build parallelism), then one query JVM at local[8] runs warm
A/B pairs in alternating order (skip, full, skip, full) so slow-window
drift hits both arms. Writes BENCH/BOOLEAN_PROBE.json.

Usage: python bench_boolean.py [n_docs]   (default 1_000_000)
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent

BUILD_WORKER = r"""
import json, sys, time
import os; sys.path.insert(0, os.environ["SOLR_REPO"])
from solrutils_spark.session import get_spark
from solrutils_spark.corpus import synth_corpus
from solrutils_spark.index.builder import build_index

out = sys.argv[1]; n_docs = int(sys.argv[2])
spark = get_spark(app_name="bool-build", master="local[8]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
spark.range(0, 8000, numPartitions=8).mapInPandas(lambda it: it, "id long").count()
synth_corpus(spark, n_docs, hot_repeat=100_000, partitions=64).write.mode(
    "overwrite").parquet(out + "/corpus.parquet")
corpus = spark.read.parquet(out + "/corpus.parquet")
t0 = time.perf_counter()
build_index(corpus, out + "/index", segment_size=max(128, n_docs // 256),
            num_salts=64, num_buckets=64)
print("RESULT " + json.dumps({"build_sec": round(time.perf_counter() - t0, 3)}))
spark.stop()
"""

QUERY_WORKER = r"""
import json, sys, time
import os; sys.path.insert(0, os.environ["SOLR_REPO"])
import numpy as np
from solrutils_spark.session import get_spark
from solrutils_spark.query.engine import IndexReader
from solrutils_spark.query import boolean as B
from solrutils_spark.functions.analyzer import analyze

idx = sys.argv[1]
spark = get_spark(app_name="bool-q8", master="local[8]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
spark.range(0, 8000, numPartitions=8).mapInPandas(lambda it: it, "id long").count()
reader = IndexReader(spark, idx + "/index").cache_for_serving()

# pick the query pair from the termdf sidecar (REAL indexed terms — the
# planted camelCase markers analyze into sub-tokens, so literal fixture
# strings are not index terms): HOT = the Zipf-head max-df term, RARE = the
# term whose df is closest to 128 (one-block band)
import numpy as np
import pyarrow.dataset as ds
vocab = ds.dataset(idx + "/index/termdf").to_table(columns=["term", "df"])
terms = vocab["term"].to_pylist()
df_arr = np.asarray(vocab["df"].to_pylist(), dtype=np.int64)
HOT = terms[int(df_arr.argmax())]
RARE = terms[int(np.abs(df_arr - 128).argmin())]
dfs = reader.term_dfs([RARE, HOT])
conj_q = f"{RARE} {HOT}"

def run_conj():
    return sorted(
        (int(r["doc_id"]), round(float(r["score"]), 9))
        for r in reader.search_conj(conj_q, 10).collect()
    )

# decode-all control: same kernel, skipping disabled
_real = B.needed_block_runs
def _full_runs(block_last, first_doc, cand):
    n = len(block_last)
    return [(0, n)] if n else []

# warm both plan shapes untimed
run_conj()
B.needed_block_runs = _full_runs
run_conj()
B.needed_block_runs = _real

skip_walls, full_walls = [], []
skip_res = full_res = None
for rep in range(3):
    t0 = time.perf_counter(); skip_res = run_conj()
    skip_walls.append(round(time.perf_counter() - t0, 3))
    B.needed_block_runs = _full_runs
    t0 = time.perf_counter(); full_res = run_conj()
    full_walls.append(round(time.perf_counter() - t0, 3))
    B.needed_block_runs = _real
assert skip_res == full_res, "skip path changed results"

# phrase: a rare-anchored bigram taken from a real doc containing RARE
row = reader.fetch(
    reader.search(RARE, 1).collect(), fields=["repo", "path"]
)[0]
doc = reader.docs.filter("doc_id = %d" % int(row["doc_id"])).select(
    "content").collect()[0]["content"]
toks = analyze(doc)
i = toks.index(RARE)
phrase_q = " ".join(toks[i:i+2]) if i + 1 < len(toks) else " ".join(toks[i-1:i+1])
n_cand = reader.search_conj(phrase_q, int(reader.stats["n_docs"])).count()
reader.phrase_search(phrase_q, 10).count()  # warm
ph_walls = []
for rep in range(3):
    t0 = time.perf_counter()
    n_hits = reader.phrase_search(phrase_q, 10).count()
    ph_walls.append(round(time.perf_counter() - t0, 3))

reader.search_conj_local(conj_q, 10)  # warm (dataset discovery)
loc_walls = []
for rep in range(5):
    t0 = time.perf_counter()
    loc_res = reader.search_conj_local(conj_q, 10)
    loc_walls.append(round((time.perf_counter() - t0) * 1e3, 1))
assert sorted((int(d), round(float(s), 9)) for d, s in loc_res) == skip_res, \
    "local conj path diverged from distributed"

# driver-local A/B where the kernel (not the job floor) is the wall: count
# the later-term blocks each arm decodes, and time both arms
counted = {"skip": 0, "full": 0}
def _counting(bl, fd, cand):
    runs = _real(bl, fd, cand)
    counted["skip"] += sum(i1 - i0 for i0, i1 in runs)
    counted["full"] += len(bl)
    return runs
B.needed_block_runs = _counting
reader.search_conj_local(conj_q, 10)
B.needed_block_runs = _real
loc_full_walls = []
for rep in range(5):
    B.needed_block_runs = _full_runs
    t0 = time.perf_counter()
    full_loc = reader.search_conj_local(conj_q, 10)
    loc_full_walls.append(round((time.perf_counter() - t0) * 1e3, 1))
    B.needed_block_runs = _real
assert [(int(d), round(float(s), 9)) for d, s in full_loc] == \
    [(int(d), round(float(s), 9)) for d, s in loc_res], "decode-all diverged"

print("RESULT " + json.dumps({
    "conj_local_p50_ms": sorted(loc_walls)[len(loc_walls) // 2],
    "conj_local_walls_ms": loc_walls,
    "conj_local_decodeall_p50_ms": sorted(loc_full_walls)[len(loc_full_walls) // 2],
    "conj_local_decodeall_walls_ms": loc_full_walls,
    "later_term_blocks_skip": counted["skip"],
    "later_term_blocks_total": counted["full"],
    "df_rare": dfs.get(RARE, 0), "df_hot": dfs.get(HOT, 0),
    "conj_skip_walls": skip_walls, "conj_decodeall_walls": full_walls,
    "conj_skip_sec": min(skip_walls), "conj_decodeall_sec": min(full_walls),
    "conj_hits": len(skip_res),
    "phrase": phrase_q, "phrase_candidates": n_cand,
    "phrase_hits": n_hits, "phrase_walls": ph_walls,
    "phrase_sec": min(ph_walls),
}))
spark.stop()
"""


def run(script: str, args: list[str]) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True, text=True, timeout=3600,
        env={**__import__("os").environ, "SOLR_REPO": str(REPO)},
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"worker failed:\n{p.stdout[-2000:]}\n{p.stderr[-4000:]}")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    tmp = tempfile.mkdtemp(prefix="bool_probe_")
    try:
        t0 = time.perf_counter()
        out: dict = {"n_docs": n_docs}
        out["build"] = run(BUILD_WORKER, [tmp, str(n_docs)])
        out["query"] = run(QUERY_WORKER, [tmp])
        q = out["query"]
        out["conj_skip_speedup"] = round(
            q["conj_decodeall_sec"] / q["conj_skip_sec"], 2)
        out["total_wall_sec"] = round(time.perf_counter() - t0, 1)
        dest = REPO / "BENCH" / "BOOLEAN_PROBE.json"
        dest.write_text(json.dumps(out, indent=2))
        print(json.dumps(out, indent=2))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
