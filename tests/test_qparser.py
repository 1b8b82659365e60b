"""Lucene-syntax parser + boolean executor (query/qparser.py): parse-shape
tests plus execution parity against a clause-by-clause Python oracle built
on OracleIndex."""

from __future__ import annotations

import fnmatch

import numpy as np
import pytest

from solrutils_spark.corpus import synth_corpus
from solrutils_spark.functions.analyzer import analyze
from solrutils_spark.index.builder import build_index
from solrutils_spark.oracle.reference_bm25 import OracleIndex
from solrutils_spark.query.boolean import _levenshtein_banded
from solrutils_spark.query.engine import IndexReader
from solrutils_spark.functions.analyzer import K1
from solrutils_spark.query.qparser import (
    MUST,
    MUST_NOT,
    SHOULD,
    Group,
    UnsupportedQuerySyntax,
    execute_boolean,
    parse_query,
)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_qp"))
    corpus = synth_corpus(spark, 300, hot_repeat=2_000)
    build_index(corpus, out, segment_size=64, num_salts=3, num_buckets=16)
    return out


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


@pytest.fixture(scope="module")
def oracle(spark, reader):
    rows = reader.docs.select("doc_id", "content").collect()
    return OracleIndex([(r["doc_id"], r["content"]) for r in rows])


@pytest.fixture(scope="module")
def meta(reader):
    rows = reader.docs.select("doc_id", "repo", "path", "commit", "lang").collect()
    return {r["doc_id"]: {"repo": r["repo"], "path": r["path"],
                          "commit": r["commit"], "lang": r["lang"]}
            for r in rows}


# ----------------------------------------------------------- parsing ----


def test_parse_bare_terms_are_should():
    cs = parse_query("posting segment")
    assert [(c.kind, c.text, c.occur) for c in cs] == [
        ("term", "posting", SHOULD), ("term", "segment", SHOULD)]


def test_parse_and_promotes_both_sides():
    cs = parse_query("posting AND segment")
    assert [c.occur for c in cs] == [MUST, MUST]


def test_parse_or_keeps_should():
    cs = parse_query("posting OR segment")
    assert [c.occur for c in cs] == [SHOULD, SHOULD]


def test_parse_plus_minus_not():
    cs = parse_query("+posting -segment NOT vbyte !wand")
    assert [c.occur for c in cs] == [MUST, MUST_NOT, MUST_NOT, MUST_NOT]


def test_parse_explicit_occur_survives_and():
    cs = parse_query("-posting AND segment")
    assert [c.occur for c in cs] == [MUST_NOT, MUST]


def test_parse_phrase_wildcard_fuzzy_boost():
    cs = parse_query('"posting segment" post* te?m fuzz~1 boosted^2.5 bare~')
    assert [c.kind for c in cs] == [
        "phrase", "wildcard", "wildcard", "fuzzy", "term", "fuzzy"]
    assert cs[0].text == "posting segment"
    assert cs[3].max_edits == 1
    assert cs[4].boost == 2.5
    assert cs[5].max_edits == 2  # bare ~ = Lucene default 2


def test_parse_unsupported_is_loud():
    for bad in ["title:foo", "[1 TO 5]", "a AND", "(a AND b",
                "a) b", "lang:()", "lang:fuzz~1", 'lang:"a b"',
                "content:[a TO b]", "()", "lang:(title:x)"]:
        with pytest.raises(UnsupportedQuerySyntax):
            parse_query(bad)


def test_parse_field_groups():
    """Round-5 (was a loud gate): ``field:(...)`` scopes every bare atom
    inside to the field; explicit inner prefixes re-scope; boosts apply to
    the group; connectors behave as in any group."""
    nodes = parse_query("lang:(py AND rs)")
    g = nodes[0]
    assert isinstance(g, Group)
    assert [(c.kind, c.field_name, c.text, c.occur) for c in g.children] == [
        ("field_term", "lang", "py", MUST), ("field_term", "lang", "rs", MUST)]

    nodes = parse_query("repo:(org1 org2)^2 +parse")
    assert nodes[0].boost == 2.0
    assert all(c.field_name == "repo" for c in nodes[0].children)
    assert nodes[1].occur == MUST

    # explicit inner field re-scopes; content group = plain text clauses
    nodes = parse_query("lang:(py OR path:src*) content:(foo bar)")
    inner = nodes[0].children
    assert (inner[0].field_name, inner[1].kind, inner[1].field_name) == \
        ("lang", "field_wildcard", "path")
    assert [c.kind for c in nodes[1].children] == ["term", "term"]

    # nested plain parens inside a field group keep the scope
    nodes = parse_query("lang:((py go) AND rs)")
    sub = nodes[0].children[0]
    assert all(c.field_name == "lang" for c in sub.children)
    assert nodes[0].children[1].field_name == "lang"


def test_parse_groups():
    nodes = parse_query("(posting OR segment) AND wand")
    assert isinstance(nodes[0], Group) and nodes[0].occur == MUST
    assert [c.text for c in nodes[0].children] == ["posting", "segment"]
    assert [c.occur for c in nodes[0].children] == [SHOULD, SHOULD]
    assert nodes[1].text == "wand" and nodes[1].occur == MUST

    nodes = parse_query('-(a b)^2 +c')
    assert nodes[0].occur == MUST_NOT and nodes[0].boost == 2.0
    assert nodes[1].occur == MUST

    nested = parse_query("((a b) AND c) d")
    assert isinstance(nested[0], Group)
    assert isinstance(nested[0].children[0], Group)
    assert nested[0].children[0].occur == MUST
    assert nested[0].children[1].occur == MUST


def test_parse_field_clauses():
    nodes = parse_query("lang:java path:src* commit:[a TO f] doc_id:{5 TO 10]")
    assert [(n.kind, n.field_name) for n in nodes] == [
        ("field_term", "lang"), ("field_wildcard", "path"),
        ("range", "commit"), ("range", "doc_id")]
    assert nodes[2].lo == "a" and nodes[2].hi == "f"
    assert nodes[2].incl_lo and nodes[2].incl_hi
    assert not nodes[3].incl_lo and nodes[3].incl_hi
    # content: is the plain text field
    nodes = parse_query('content:posting content:"posting segment" content:po*')
    assert [n.kind for n in nodes] == ["term", "phrase", "wildcard"]


def test_parse_proximity_phrase():
    nodes = parse_query('"posting segment"~2 "exact phrase"')
    assert nodes[0].kind == "phrase" and nodes[0].slop == 2
    assert nodes[1].kind == "phrase" and nodes[1].slop == 0


def test_parse_backslash_escapes():
    """C5 `escape` (ClientUtils.escapeQueryChars twin) renders user input
    with backslashes — escaped metacharacters must parse as literals."""
    from solrutils_spark.functions.text import escape_query_chars

    raw = '(posting) AND "weird" ~ +thing'
    nodes = parse_query(escape_query_chars(raw))
    assert len(nodes) == 1 and nodes[0].kind == "term"
    assert nodes[0].text == raw  # whole escaped input = ONE literal term

    nodes = parse_query('te\\*m \\(foo\\) \\"bar\\" path:a\\*b fu\\~zz')
    assert [(n.kind, n.text) for n in nodes] == [
        ("term", "te*m"), ("term", "(foo)"), ("term", '"bar"'),
        ("field_term", "a*b"), ("term", "fu~zz")]
    # escaped quote INSIDE a phrase stays in the phrase body
    nodes = parse_query('"a \\" b"')
    assert nodes[0].kind == "phrase" and nodes[0].text == 'a " b'


def test_parse_rejects_non_integer_doc_id_range():
    """A ``doc_id`` range compares numerically, so a non-integer endpoint
    is a parse error, not an execution-time ``int()`` failure."""
    for bad in ["doc_id:[a TO 5] posting", "doc_id:[1.5 TO *]",
                "doc_id:{* TO 7x}", "+posting doc_id:[1 TO 2e3]"]:
        with pytest.raises(UnsupportedQuerySyntax):
            parse_query(bad)
    nodes = parse_query("doc_id:[-3 TO +40] doc_id:{* TO 9}")
    assert [(n.lo, n.hi) for n in nodes] == [("-3", "+40"), ("*", "9")]


def test_parse_open_range_and_boost():
    nodes = parse_query("lang:[* TO java]^3")
    assert nodes[0].lo == "*" and nodes[0].hi == "java"
    assert nodes[0].boost == 3.0


# --------------------------------------------------------- execution ----


def _oracle_boolean(oracle: OracleIndex, q: str, k: int, meta=None):
    """Independent clause-by-clause evaluation on the Python oracle.
    ``meta``: doc_id → {repo, path, commit, lang} for field clauses."""
    import math

    def idf(df):
        return math.log(1.0 + (oracle.n_docs - df + 0.5) / (df + 0.5))

    def field_docs(c) -> set[int]:
        if c.kind == "field_term":
            return {d for d, m in meta.items() if m[c.field_name] == c.text}
        if c.kind == "field_wildcard":
            return {d for d, m in meta.items()
                    if fnmatch.fnmatchcase(m[c.field_name], c.text)}
        if c.kind == "range":
            def val(d, m):
                return d if c.field_name == "doc_id" else m[c.field_name]
            lo = int(c.lo) if c.field_name == "doc_id" and c.lo != "*" else c.lo
            hi = int(c.hi) if c.field_name == "doc_id" and c.hi != "*" else c.hi
            out = set()
            for d, m in meta.items():
                v = val(d, m)
                if c.lo != "*" and not (v >= lo if c.incl_lo else v > lo):
                    continue
                if c.hi != "*" and not (v <= hi if c.incl_hi else v < hi):
                    continue
                out.add(d)
            return out
        raise AssertionError(c.kind)

    def node_scores(node) -> dict[int, float] | None:
        if isinstance(node, Group):
            inner = exec_nodes(node.children)
            if inner is None:
                return None
            return {d: s * node.boost for d, s in inner.items()}
        c = node
        if c.kind == "term":
            terms = sorted(set(analyze(c.text)))
            if not terms:
                return None
            out: dict[int, float] = {}
            for t in terms:
                for d, tf in oracle.postings.get(t, {}).items():
                    out[d] = out.get(d, 0.0) + oracle._contrib(t, d, tf)
            return {d: s * c.boost for d, s in out.items()}
        if c.kind == "phrase":
            return {d: s * c.boost
                    for d, s in oracle.search_phrase(c.text, oracle.n_docs,
                                                     slop=c.slop)}
        if c.kind == "wildcard":
            terms = [t for t in oracle.postings
                     if fnmatch.fnmatchcase(t, c.text)]
            return {d: 1.0 * c.boost for d in oracle.docs_with_any(terms)}
        if c.kind == "fuzzy":
            terms = [t for t in oracle.postings
                     if _levenshtein_banded(c.text, t, c.max_edits) <= c.max_edits]
            return {d: 1.0 * c.boost for d in oracle.docs_with_any(terms)}
        if c.kind == "field_term":
            docs = field_docs(c)
            if not docs:
                return None
            s = idf(len(docs)) / (1.0 + K1) * c.boost
            return {d: s for d in docs}
        if c.kind in ("field_wildcard", "range"):
            return {d: 1.0 * c.boost for d in field_docs(c)}
        raise AssertionError(c.kind)

    def exec_nodes(nodes) -> dict[int, float] | None:
        musts, shoulds, nots = [], [], []
        for n in nodes:
            cs = node_scores(n)
            if n.occur == MUST:
                if cs is None:
                    return None
                musts.append(cs)
            elif n.occur == SHOULD:
                if cs is not None:
                    shoulds.append(cs)
            else:
                if cs is not None:
                    nots.append(cs)
        has_positive = any(n.occur in (MUST, SHOULD) for n in nodes)
        if not has_positive or (not musts and not shoulds):
            return None
        scores: dict[int, float] = {}
        for cs in musts + shoulds:
            for d, s in cs.items():
                scores[d] = scores.get(d, 0.0) + s
        domain = set(scores)
        for cs in musts:
            domain &= set(cs)
        for cs in nots:
            domain -= set(cs)
        return {d: scores[d] for d in domain}

    final = exec_nodes(parse_query(q))
    if final is None:
        return []
    ranked = sorted(final.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


BOOL_QUERIES = [
    "posting segment",
    "posting AND segment",
    "posting OR segment OR lucene",
    "+posting -segment",
    '"posting segment" OR vbyte',
    "post* AND wand",
    "posting~1",
    "posting^2 segment",
    "+posting +segment -wand",
    "NOT posting segment",
    "-posting",
    "zzzabsent OR posting",
    # groups
    "(posting OR segment) AND wand",
    "(posting segment) -lucene",
    "posting OR (segment AND wand)",
    "((posting wand) AND segment) lucene",
    "-(posting segment) vbyte",
    "(posting OR segment)^2 vbyte",
    # field / range clauses on stored metadata
    "lang:py AND posting",
    "lang:java OR lang:go",
    "+posting -lang:py",
    "path:src/pkg3* AND posting",
    "doc_id:[10 TO 40] posting",
    "doc_id:{10 TO 40} AND posting",
    "lang:[go TO js] posting",
    "doc_id:[250 TO *] posting",
    "(lang:py OR lang:go) AND (posting OR segment)",
    "content:posting lang:rs",
    "lang:zzznope posting",
    # proximity phrases
    '"posting segment"~2',
    '"segment posting"~2 OR vbyte',
    '+"posting lucene"~4 -wand',
    # field groups (round 5: was a loud gate)
    "lang:(py go) AND posting",
    "lang:(py OR go OR rs) posting",
    "+repo:(org1 org2) segment",
    "lang:(py AND go) posting",
    "path:(src* pkg*) AND posting",
    "lang:(py doc_id:[10 TO 80]) posting",
    "content:(posting segment) lang:rs",
    "lang:(py go)^3 OR posting",
    # sloppy phrases with repeated terms (round 5: was a loud gate)
    '"posting posting"~3 OR segment',
    # the tagged-union aggregation: MUST / MUST_NOT row counts
    "+posting +posting",
    "+posting -zzzabsent",
    "zzzabsent -posting",
    "-(+posting segment) wand",
    "posting -path:src/pkg3*",
]


@pytest.mark.parametrize("q", BOOL_QUERIES)
def test_boolean_matches_oracle(reader, oracle, meta, q):
    got = [(r["doc_id"], r["score"])
           for r in execute_boolean(reader, q, 10).collect()]
    want = _oracle_boolean(oracle, q, 10, meta)
    assert [d for d, _ in got] == [d for d, _ in want], q
    assert np.allclose([s for _, s in got], [s for _, s in want], atol=1e-9), q


def test_boolean_and_equals_search_conj(reader):
    a = [(r["doc_id"], round(r["score"], 9))
         for r in execute_boolean(reader, "posting AND segment", 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in reader.search_conj("posting segment", 10).collect()]
    assert a == b


def test_boolean_or_equals_search(reader):
    a = [(r["doc_id"], round(r["score"], 9))
         for r in execute_boolean(reader, "posting segment", 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in reader.search("posting segment", 10).collect()]
    assert a == b


def test_lucene_term_clause_scores_equal_search(reader, oracle):
    """A Lucene term clause scores through the ranked path's kernel: a
    MUST clause whose text analyzes to ≥3 terms (``a_b_c_…`` splits at the
    underscores) ranks and scores exactly like ``search`` on the same text,
    compared by exact ``==`` — the clause-sum association is the shared
    ``(-idf, term)`` order, not a second summation."""
    rng = np.random.default_rng(20)
    doc_ids = sorted(oracle.tokens)
    idents = []
    for d in rng.permutation(doc_ids):
        toks = sorted({t for t in oracle.tokens[int(d)]
                       if t.isascii() and t.isalpha()})
        if len(toks) < 6:
            continue
        picked = sorted(rng.choice(toks, size=6, replace=False).tolist())
        ident = "_".join(picked)
        if sorted(set(analyze(ident))) == picked:
            idents.append(ident)
        if len(idents) == 8:
            break
    assert len(idents) == 8
    for ident in idents:
        got = [(r["doc_id"], r["score"])
               for r in execute_boolean(reader, "+" + ident, 10).collect()]
        want = [(r["doc_id"], r["score"])
                for r in reader.search(ident, 10).collect()]
        assert got and got == want, ident


@pytest.mark.parametrize("q,fq", [
    ("+posting", False),
    ("+posting +segment -wand", False),
    ('+posting "posting segment" -wand', False),
    ("+posting -lang:py", False),
    ("lang:py AND posting", False),
    ("lang:java OR lang:go", False),
    ("post* AND wand", False),
    ("(posting OR segment~1) AND -(lang:py doc_id:[10 TO 80])", False),
    ("+posting +segment -wand", True),
    ('"posting segment" OR lang:rs', True),
])
def test_boolean_plan_runs_each_text_kernel_once(reader, q, fq):
    """Plan pin: the whole tree — text, phrase, wildcard/fuzzy and
    metadata leaves, and the fq — is evaluated in ONE Python-kernel stage,
    so the final AQE plan holds exactly one FlatMapGroupsInArrow /
    FlatMapCoGroupsInArrow node, no semi/anti join and no aggregate (no
    union-then-groupBy of clause frames)."""
    fdf = reader.docs.filter("lang != 'go'").select("doc_id") if fq else None
    top = execute_boolean(reader, q, 10, filter_df=fdf)
    top.collect()
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    kernels = (final.count("FlatMapGroupsInArrow")
               + final.count("FlatMapCoGroupsInArrow"))
    assert kernels == 1, final
    assert "LeftSemi" not in final and "LeftAnti" not in final, final
    assert "Aggregate" not in final, final


def test_must_absent_term_matches_nothing(reader):
    assert execute_boolean(reader, "+zzzabsent posting", 10).count() == 0


def test_field_clause_pushdown_plan(reader):
    """Scale pin: the metadata leaves' ids are one pushed-down parquet scan
    of the docs table — the filter reaches the source (PushedFilters) and
    the scan reads only the filter columns + doc_id (column pruning), never
    content bytes."""
    from solrutils_spark.query.qparser import _compile, _metadata_ids

    tree = _compile(reader, parse_query("+posting lang:py -path:src*"))
    dom = _metadata_ids(reader, tree.preds)
    plan = dom._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan, plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "lang" in read_schema, read_schema
    assert "path" in read_schema, read_schema
    assert "content" not in read_schema, read_schema


def test_boolean_bit_identical_across_partitions_and_serving(
        spark, index_dir, reader):
    """Every BOOL_QUERIES query returns ``==`` ids and scores at two
    shuffle-partition counts and on a serving-cached reader versus a cold
    one: the per-slice tree sums each doc's clauses in clause order, so no
    plan shape can reorder the float additions."""
    def run(r):
        return [[(x["doc_id"], x["score"])
                 for x in execute_boolean(r, q, 10).collect()]
                for q in BOOL_QUERIES]

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    cold = run(reader)
    try:
        spark.conf.set(key, "3")
        assert run(reader) == cold
    finally:
        spark.conf.set(key, before)
    serving = IndexReader(spark, index_dir).cache_for_serving()
    try:
        assert run(serving) == cold
    finally:
        serving.index.unpersist()


def test_parser_robustness_fuzz():
    """The parser must either parse or raise UnsupportedQuerySyntax — never
    leak an IndexError/AttributeError/RecursionError on arbitrary input.
    Seeded sweep over grammar-ish random strings plus byte noise."""
    import random

    rng = random.Random(4242)
    pieces = ["posting", "seg*", "fu~1", '"a b"', '"a b"~2', "(", ")",
              "AND", "OR", "NOT", "+", "-", "!", "lang:py", "lang:(",
              "repo:(x y)", "doc_id:[1 TO 9]", "path:{a TO *}", "^2",
              "~", ":", "content:", '"', "\\", "[", "]", "{", "}", "TO"]
    parsed = raised = 0
    for _ in range(400):
        n = rng.randint(1, 8)
        q = " ".join(rng.choice(pieces) for _ in range(n))
        if rng.random() < 0.3:
            q = q.replace(" ", "", 1)  # glue two pieces together
        try:
            nodes = parse_query(q)
            parsed += 1
            assert isinstance(nodes, list)
        except UnsupportedQuerySyntax:
            raised += 1
    # the generator must exercise BOTH outcomes meaningfully
    assert parsed > 50 and raised > 50, (parsed, raised)
