"""Seeded inputs: the corpus sample, point queries and JSON requests.

Everything here is a pure function of the ``--seed`` argument and of the
index vocabulary the build wrote, so the same seed always yields the same
inputs. The program under test only ever receives what these functions
return.
"""

from __future__ import annotations

import random

# df classes the query generator stratifies by. A term is "rare" when at most
# RARE_DF documents contain it and "hot" when more than HOT_SHARE of them do.
DF_CLASSES = ("rare", "mid", "hot")
RARE_DF = 5
HOT_SHARE = 0.01

# Values of the JSON workload's ``lang`` filter. Few enough to stay resident
# in the executor's 32-entry filter cache once warmed.
FQ_LANGS = ("py", "java")

# every CONJ_EVERY-th point query is a conjunction, for every seed
CONJ_EVERY = 4
TOP_K = 10
HOT_REPEAT = 10_000  # synth_corpus's default length of its hot-term row
EDGE_ROWS = 6  # rows 0-5 of the generator are fixed edge cases

# SearchModel for the JSON workload: ranked q, a lang filter, a lang facet.
REQUEST_MODEL = {
    "query": {"op": "q", "body": "${value}"},
    "filter": {
        "op": "fq",
        "strict": False,
        "filters": {"lang": {"body": "lang = '${value}'"}},
    },
    "rows": {"op": "set", "name": "rows", "body": "${value:int}"},
    "facet": {
        "op": "facet",
        "facets": {"lang": {"type": "field", "body": "{!key=${key}}lang"}},
    },
}


def corpus_sample(seed: int, n_docs: int):
    """``n_docs`` rows of the synthetic corpus, as a pandas DataFrame.

    ``synth_corpus_local`` runs the same per-row generator as
    ``synth_corpus`` on the driver. Every sample keeps the ``EDGE_ROWS``
    fixture rows (empty, all-stopword, duplicate, hot-term and unicode-only
    content); the seed picks the rest from a pool twice the size."""
    import pandas as pd

    from solrutils_spark.corpus import synth_corpus_local

    pool = synth_corpus_local(2 * n_docs, hot_repeat=HOT_REPEAT)
    rest = pool.iloc[EDGE_ROWS:].sample(n=n_docs - EDGE_ROWS,
                                         random_state=seed % 2**32)
    return pd.concat([pool.iloc[:EDGE_ROWS], rest]).sort_index().reset_index(drop=True)


def df_classes(term_df: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Vocabulary split into the three df classes, each sorted by (df, term)."""
    out: dict[str, list[tuple[int, str]]] = {c: [] for c in DF_CLASSES}
    for term, df in term_df.items():
        if df <= RARE_DF:
            cls = "rare"
        elif df > HOT_SHARE * n_docs:
            cls = "hot"
        else:
            cls = "mid"
        out[cls].append((df, term))
    return {c: [t for _, t in sorted(v)] for c, v in out.items()}


class _Picker:
    """Draws from a df-sorted term list along an additive recurrence with a
    seeded start: every run covers the class's df range evenly, so the mix of
    posting-list lengths barely changes from seed to seed."""

    STEP = 0.6180339887498949  # golden ratio conjugate

    def __init__(self, rng: random.Random, terms: list[str]):
        self.terms, self.state = terms, rng.random()

    def __call__(self) -> str:
        self.state = (self.state + self.STEP) % 1.0
        return self.terms[int(self.state * len(self.terms))]


def _pickers(rng: random.Random, classes: dict[str, list[str]]) -> list[_Picker]:
    """One picker per non-empty class (a tiny corpus may have no mid terms)."""
    return [_Picker(rng, classes[c]) for c in DF_CLASSES if classes[c]]


def _doc_terms(rng: random.Random, docs: list[tuple[str, str]],
               n: int, lang: str | None = None) -> list[str]:
    """``n`` consecutive analyzed tokens of one seeded document (of ``lang``
    when given); the tokens co-occur, so a conjunction or phrase over them
    matches at least that document."""
    from solrutils_spark.functions.analyzer import analyze

    for _ in range(100_000):
        doc_lang, content = docs[rng.randrange(len(docs))]
        if lang is not None and doc_lang != lang:
            continue
        toks = analyze(content)
        if len(set(toks)) < n + 1:
            continue
        start = rng.randrange(len(toks) - n)
        run = toks[start : start + n]
        if len(set(run)) == n:
            return run
    raise ValueError(f"no sampled document has {n} distinct adjacent terms")


def point_queries(seed: int, classes: dict[str, list[str]],
                  docs: list[tuple[str, str]], count: int) -> list[tuple[str, str]]:
    """``count`` (kind, text) point queries, kind ``disj`` or ``conj``.

    Disjunctions take 1-3 terms; term ``j`` of query ``i`` comes from df
    class ``(i + j) mod 3``, so every class is drawn equally often, through
    a :class:`_Picker`.
    Conjunctions take 2-3 co-occurring terms of one seeded document."""
    rng = random.Random(f"point:{seed}")
    pick = _pickers(rng, classes)
    out = []
    for i in range(count):
        if i % CONJ_EVERY == CONJ_EVERY - 1:
            out.append(("conj", " ".join(_doc_terms(rng, docs, 2 + i % 2))))
            continue
        terms = [pick[(i + j) % len(pick)]() for j in range(1 + i % 4)]
        out.append(("disj", " ".join(terms)))
    return out


def json_requests(seed: int, classes: dict[str, list[str]],
                  docs: list[tuple[str, str]], count: int) -> list[dict]:
    """``count`` ranked Solr-style JSON requests for ``REQUEST_MODEL``.

    Request ``i`` filters on ``FQ_LANGS[i mod 2]``, facets on ``lang`` and
    ORs one term of a document in that language (so it matches) with
    ``i mod 3`` stratified vocabulary terms."""
    rng = random.Random(f"json:{seed}")
    pick = _pickers(rng, classes)
    out = []
    for i in range(count):
        lang = FQ_LANGS[i % len(FQ_LANGS)]
        terms = _doc_terms(rng, docs, 1, lang)
        terms += [pick[(i + j) % len(pick)]() for j in range(i % 3)]
        out.append(_request(" ".join(terms), lang))
    return out


def lucene_requests(seed: int, classes: dict[str, list[str]],
                    docs: list[tuple[str, str]], count: int) -> list[dict]:
    """``count`` requests with Lucene syntax ``+a "b c" -d``: a, b, c are
    adjacent terms of one ``py`` document, d a mid-df term, so the query
    parses as Lucene and runs the phrase kernel."""
    rng = random.Random(f"lucene:{seed}")
    mid = classes["mid"] or classes["rare"]
    out = []
    for _ in range(count):
        a, b, c = _doc_terms(rng, docs, 3, FQ_LANGS[0])
        d = mid[rng.randrange(len(mid))]
        while d in (a, b, c):
            d = mid[rng.randrange(len(mid))]
        out.append(_request(f'+{a} "{b} {c}" -{d}', FQ_LANGS[0]))
    return out


def _request(q: str, lang: str) -> dict:
    return {"query": q, "filter": {"lang": lang}, "facet": ["lang"], "rows": TOP_K}
