"""Mini Lucene-syntax query parser + boolean executor.

The reference's search model renders raw Lucene query strings into ``q`` /
``fq`` (``Query.java:10-31`` sets the rendered template as the main query;
``FilterQuery.java:11-64`` appends filter queries; templates can emit any
syntax Solr's LuceneQParser accepts). This module parses the practical core
of that syntax and executes it against the engine with DataFrame algebra:

  query       ::=  node (connector? node)*
  node        ::=  [+|-|NOT|!] ( group | clause )
  group       ::=  [field ':'] '(' query ')' [^boost]
  clause      ::=  [field ':'] atom [~edits] [^boost]
  atom        ::=  '"' words '"'  |  range  |  word-with-*-or-?  |  word
  range       ::=  ('['|'{') lo TO hi (']'|'}')
  connector   ::=  AND | OR | && | ||

Semantics are Lucene BooleanQuery's (flat left-to-right promotion at each
nesting level — the practical mapping, not the parser's notorious
precedence corners):

- bare nodes are SHOULD under the default OR operator;
- ``AND`` promotes BOTH adjacent nodes to MUST;
- ``+`` is MUST, ``-`` / ``NOT`` / ``!`` is MUST_NOT;
- the match domain is: every MUST matches ∧ (≥1 SHOULD matches when there
  is no MUST) ∧ no MUST_NOT matches;
- the score is the sum of matching MUST+SHOULD contributions (SHOULD
  contributes wherever it matches even when not required), each × boost;
- a parenthesized group is a sub-BooleanQuery: its score is the inner sum,
  its domain the inner match domain, recursively;
- term and phrase clauses on the text field score BM25 (phrase: PhraseQuery
  scoring); wildcard and fuzzy clauses are constant-score 1.0 (Lucene's
  CONSTANT_SCORE multi-term rewrite);
- ``field:value`` on a METADATA field (the stored keyword columns ``repo``,
  ``path``, ``commit``, ``lang``) scores exactly what Lucene's BM25 gives a
  TermQuery on a single-token keyword field: tf = 1, |d| = avgdl = 1 ⇒
  ``idf(df_value) / (1 + k1)`` — a per-value constant. ``field:pre*``
  wildcards and ``field:[a TO b]`` / ``{a TO b}`` ranges (``*`` = open
  endpoint; ``doc_id`` ranges compare numerically) are constant-score 1.0
  (Lucene rewrites multi-term/range queries to constant score);
  ``content:value`` is the plain text-field clause;
- a MUST_NOT-only query matches nothing (Lucene: no positive clause).

Proximity phrases ``"a b"~N`` run the minimal-window sloppy sweep over the
positions decoded from the index's positional sidecar (Lucene slop
semantics: moves budget, a transposition costs 2, sloppyFreq =
1/(1+matchLength); REPEATED terms hold distinct token positions in phrase
order — see ``boolean._sloppy_sweep``). ``field:(...)`` grouping scopes every bare
atom inside to the field (round 5; an explicit inner ``other:`` prefix
re-scopes, as Lucene does). Unsupported constructs fail LOUDLY
(``UnsupportedQuerySyntax``): fuzzy on metadata fields and unknown field
names — the same honest-gate contract as sources/minixslt.py.

Execution is pure DataFrame algebra over per-clause retrievals — each text
clause is an indexed posting read (bounded by its df), each metadata clause
a pushed-down filter on the docs table. Each nesting level is one tagged
union of its nodes' frames and one hash aggregation on doc_id that sums
the score and counts MUST / MUST_NOT rows; the domain is a filter on those
counts, with no joins. No driver-side doc loops; at cluster scale every
step is a bounded shuffle keyed on doc_id.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solrutils_spark.functions.analyzer import K1, analyze
from solrutils_spark.query.arrow_rows import TOPK_DDL
from solrutils_spark.query.boolean import (
    expand_fuzzy,
    expand_wildcard,
    multi_term_docs,
    phrase_scored,
)
from solrutils_spark.query.engine import ranked_page

MUST, SHOULD, MUST_NOT = "MUST", "SHOULD", "MUST_NOT"

#: stored keyword columns a ``field:`` clause may target (the docs table's
#: metadata per the source schema (repo, path, commit, lang, content))
METADATA_FIELDS = ("repo", "path", "commit", "lang")
TEXT_FIELD = "content"
ID_FIELD = "doc_id"


class UnsupportedQuerySyntax(ValueError):
    """Query uses a construct outside the supported Lucene subset."""


@dataclass
class Clause:
    kind: str  # term | phrase | wildcard | fuzzy | field_term |
    #            field_wildcard | range
    text: str = ""
    occur: str = SHOULD
    boost: float = 1.0
    max_edits: int = 2  # Lucene: bare ~ means edit distance 2
    slop: int = 0  # phrase clauses: "a b"~N
    field_name: str = ""
    lo: str = ""
    hi: str = ""
    incl_lo: bool = True
    incl_hi: bool = True
    explicit_occur: bool = field(default=False, repr=False)


@dataclass
class Group:
    children: list  # list[Clause | Group]
    occur: str = SHOULD
    boost: float = 1.0
    explicit_occur: bool = field(default=False, repr=False)


_WS_RE = re.compile(r"\s*")
_CONNECTOR_RE = re.compile(r"(?:AND|OR|NOT|&&|\|\||!)(?=[\s(\"]|$)")
_FIELD_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_.]*):")
_QUOTED_RE = re.compile(r'"((?:\\.|[^"\\])*)"(~\d+)?')
_RANGE_RE = re.compile(r"([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])")
# bare tokens: backslash-pairs ride along (C5 `escape` renders Lucene
# metacharacters as \x — ClientUtils.escapeQueryChars, Conversion.java:220)
_BARE_RE = re.compile(r'(?:\\.|[^\s"()\\])+')
_SUFFIX_RE = re.compile(r"^(?P<body>.*?)(?P<fuzzy>(?<!\\)~(?P<edits>\d*))?"
                        r"(?P<boost>(?<!\\)\^(?P<bval>\d+(?:\.\d+)?))?$")
_BOOST_RE = re.compile(r"\^(\d+(?:\.\d+)?)")
_UNESCAPED_WILD_RE = re.compile(r"(?<!\\)[*?]")
_UNESCAPED_COLON_RE = re.compile(r"(?<!\\):")
_UNESCAPE_RE = re.compile(r"\\(.)")


def _unescape(s: str) -> str:
    return _UNESCAPE_RE.sub(r"\1", s)


def parse_query(q: str) -> list:
    """Parse a Lucene-subset query string into a boolean tree (a flat list
    of :class:`Clause` / :class:`Group` nodes at the top level)."""
    nodes, pos = _parse_nodes(q, 0, depth=0, field_ctx="")
    if pos != len(q):
        raise UnsupportedQuerySyntax(f"unbalanced ')' at: {q[pos:]!r}")
    return nodes


def _parse_nodes(q: str, pos: int, depth: int,
                 field_ctx: str = "") -> tuple[list, int]:
    """``field_ctx``: the enclosing ``field:(...)`` scope — bare atoms
    inside it parse as clauses on that field (Lucene field grouping);
    an explicit inner ``other:`` prefix re-scopes, as Lucene does."""
    nodes: list = []
    pending_occur: str | None = None
    pending_and = False
    pending_prefix: str | None = None

    def attach(node) -> None:
        nonlocal pending_occur, pending_and, pending_prefix
        if pending_prefix == "+":
            node.occur, node.explicit_occur = MUST, True
        elif pending_prefix == "-":
            node.occur, node.explicit_occur = MUST_NOT, True
        if pending_occur is not None and not node.explicit_occur:
            node.occur, node.explicit_occur = pending_occur, True
        if pending_and and not node.explicit_occur and node.occur == SHOULD:
            node.occur = MUST
        pending_occur = None
        pending_and = False
        pending_prefix = None
        nodes.append(node)

    while pos < len(q):
        pos = _WS_RE.match(q, pos).end()
        if pos >= len(q):
            break
        ch = q[pos]
        if ch == ")":
            if depth == 0:
                raise UnsupportedQuerySyntax(f"unbalanced ')' at: {q[pos:]!r}")
            break
        if ch in "+-!" and pending_prefix is None and pos + 1 < len(q) \
                and not q[pos + 1].isspace():
            pending_prefix = "-" if ch == "!" else ch
            pos += 1
            continue
        if ch == "(":
            children, pos = _parse_nodes(q, pos + 1, depth + 1, field_ctx)
            if pos >= len(q) or q[pos] != ")":
                raise UnsupportedQuerySyntax(f"unclosed '(' in: {q!r}")
            pos += 1
            g = Group(children=children)
            bm = _BOOST_RE.match(q, pos)
            if bm:
                g.boost = float(bm.group(1))
                pos = bm.end()
            if not children:
                raise UnsupportedQuerySyntax(f"empty group in: {q!r}")
            attach(g)
            continue
        m = _CONNECTOR_RE.match(q, pos) if pending_prefix is None else None
        if m:
            c = m.group(0)
            pos = m.end()
            if c in ("NOT", "!"):
                pending_occur = MUST_NOT
            elif c in ("AND", "&&"):
                if not nodes:
                    raise UnsupportedQuerySyntax(f"AND with no left clause: {q!r}")
                prev = nodes[-1]
                if not prev.explicit_occur and prev.occur == SHOULD:
                    prev.occur = MUST
                pending_and = True
            # OR: default occur stays SHOULD
            continue
        fname = ""
        fm = _FIELD_RE.match(q, pos)
        if fm:
            fname = fm.group(1)
            pos = fm.end()
            if pos < len(q) and q[pos] == "(":
                # field grouping: every bare atom inside scopes to fname
                children, pos = _parse_nodes(q, pos + 1, depth + 1, fname)
                if pos >= len(q) or q[pos] != ")":
                    raise UnsupportedQuerySyntax(f"unclosed '(' in: {q!r}")
                pos += 1
                g = Group(children=children)
                bm = _BOOST_RE.match(q, pos)
                if bm:
                    g.boost = float(bm.group(1))
                    pos = bm.end()
                if not children:
                    raise UnsupportedQuerySyntax(f"empty group in: {q!r}")
                attach(g)
                continue
        cl, pos = _parse_atom(q, pos, fname or field_ctx)
        attach(cl)
    if pending_occur is not None or pending_and or pending_prefix:
        raise UnsupportedQuerySyntax(f"dangling connector: {q!r}")
    return nodes, pos


def _parse_atom(q: str, pos: int, fname: str) -> tuple[Clause, int]:
    qm = _QUOTED_RE.match(q, pos)
    if qm:
        if fname and fname != TEXT_FIELD:
            raise UnsupportedQuerySyntax(
                f"phrase on non-text field: {fname}:{qm.group(0)!r}"
            )
        pos = qm.end()
        slop = int(qm.group(2)[1:]) if qm.group(2) else 0
        cl = Clause(kind="phrase", text=_unescape(qm.group(1)), slop=slop)
        bm = _BOOST_RE.match(q, pos)
        if bm:
            cl.boost = float(bm.group(1))
            pos = bm.end()
        return cl, pos
    rm = _RANGE_RE.match(q, pos)
    if rm:
        if not fname:
            raise UnsupportedQuerySyntax(
                f"range without a field: {rm.group(0)!r}"
            )
        _check_field(fname, allow_id=True)
        if fname == TEXT_FIELD:
            raise UnsupportedQuerySyntax("range on the text field")
        pos = rm.end()
        cl = Clause(
            kind="range", field_name=fname, lo=rm.group(2), hi=rm.group(3),
            incl_lo=rm.group(1) == "[", incl_hi=rm.group(4) == "]",
        )
        bm = _BOOST_RE.match(q, pos)
        if bm:
            cl.boost = float(bm.group(1))
            pos = bm.end()
        return cl, pos
    bm_ = _BARE_RE.match(q, pos)
    if not bm_:
        raise UnsupportedQuerySyntax(f"cannot tokenize at: {q[pos:]!r}")
    raw = bm_.group(0)
    pos = bm_.end()
    sm = _SUFFIX_RE.match(raw)
    body = sm.group("body")
    if not body:
        raise UnsupportedQuerySyntax(f"cannot parse clause: {raw!r}")
    if _UNESCAPED_COLON_RE.search(body):
        raise UnsupportedQuerySyntax(f"nested ':' in clause: {raw!r}")
    boost = float(sm.group("bval")) if sm.group("boost") else 1.0
    wild = bool(_UNESCAPED_WILD_RE.search(body))
    if sm.group("fuzzy") is not None:
        if wild:
            raise UnsupportedQuerySyntax(f"fuzzy wildcard: {raw!r}")
        if fname and fname != TEXT_FIELD:
            raise UnsupportedQuerySyntax(
                f"fuzzy on non-text field: {fname}:{raw!r}"
            )
        edits = int(sm.group("edits")) if sm.group("edits") else 2
        return Clause(kind="fuzzy", text=_unescape(body).lower(),
                      max_edits=edits, boost=boost), pos
    if fname and fname != TEXT_FIELD:
        _check_field(fname)
        if wild:
            # NB: after unescaping, a previously-escaped * / ? is
            # indistinguishable from a live wildcard — irrelevant in
            # practice because neither index terms nor the metadata
            # columns can contain literal wildcard characters
            return Clause(kind="field_wildcard", field_name=fname,
                          text=_unescape(body), boost=boost), pos
        return Clause(kind="field_term", field_name=fname,
                      text=_unescape(body), boost=boost), pos
    if wild:
        return Clause(kind="wildcard", text=_unescape(body).lower(),
                      boost=boost), pos
    return Clause(kind="term", text=_unescape(body), boost=boost), pos


def _check_field(fname: str, allow_id: bool = False) -> None:
    ok = METADATA_FIELDS + ((ID_FIELD,) if allow_id else ()) + (TEXT_FIELD,)
    if fname not in ok:
        raise UnsupportedQuerySyntax(
            f"unknown field {fname!r} (stored fields: "
            f"{', '.join(METADATA_FIELDS)}, {TEXT_FIELD})"
        )


# ------------------------------------------------------------ executor ----


def _field_docs(reader, cl: Clause) -> DataFrame:
    """doc_id domain of a metadata clause — a pushed-down filter on the docs
    table (parquet scan prunes to the filter + doc_id projection)."""
    docs = reader.docs
    if cl.kind == "field_term":
        return docs.filter(F.col(cl.field_name) == cl.text).select("doc_id")
    if cl.kind == "field_wildcard":
        like = (cl.text.replace("%", r"\%").replace("_", r"\_")
                .replace("*", "%").replace("?", "_"))
        return docs.filter(F.col(cl.field_name).like(like)).select("doc_id")
    if cl.kind == "range":
        col = F.col(cl.field_name)
        if cl.field_name == ID_FIELD:
            conv = lambda v: F.lit(int(v))  # noqa: E731
        else:
            conv = F.lit
        cond = F.lit(True)
        if cl.lo != "*":
            cond = cond & (col >= conv(cl.lo) if cl.incl_lo else col > conv(cl.lo))
        if cl.hi != "*":
            cond = cond & (col <= conv(cl.hi) if cl.incl_hi else col < conv(cl.hi))
        return docs.filter(cond).select("doc_id")
    raise AssertionError(cl.kind)  # pragma: no cover


def _clause_scored(reader, cl: Clause) -> DataFrame | None:
    """(doc_id, score) of ALL docs the clause matches; None = clause has no
    live terms (matches nothing)."""
    if cl.kind == "term":
        if not analyze(cl.text):
            return None
        df = reader.scored_domain(cl.text)
    elif cl.kind == "phrase":
        seq = analyze(cl.text)
        if not seq:
            return None
        if len(seq) == 1:
            df = reader.scored_domain(cl.text)
        else:
            df = phrase_scored(reader, cl.text, slop=cl.slop)
    elif cl.kind == "wildcard":
        df = multi_term_docs(reader, expand_wildcard(reader, cl.text))
    elif cl.kind == "fuzzy":
        df = multi_term_docs(
            reader, expand_fuzzy(reader, cl.text, cl.max_edits, max_expansions=1024)
        )
    elif cl.kind == "field_term":
        dom = _field_docs(reader, cl)
        # Lucene BM25 on a single-token keyword field: tf=1, |d|=avgdl=1
        # ⇒ idf(df_value)/(1+k1), a per-value constant. The count is one
        # pushed-down parquet scan; memoized per (field, value) on the
        # reader (the docs table is immutable after build — same contract
        # as the termdf sidecar cache).
        cache = reader._field_df_cache
        key = (cl.field_name, cl.text)
        df_v = cache.get(key)
        if df_v is None:
            df_v = cache[key] = dom.count()
        if df_v == 0:
            return None
        score = reader.idf(df_v) / (1.0 + K1)
        df = dom.select("doc_id", F.lit(float(score)).alias("score"))
    elif cl.kind in ("field_wildcard", "range"):
        # Lucene rewrites multi-term/range queries to constant score 1.0
        df = _field_docs(reader, cl).select(
            "doc_id", F.lit(1.0).alias("score")
        )
    else:  # pragma: no cover
        raise AssertionError(cl.kind)
    if cl.boost != 1.0:
        df = df.select("doc_id", (F.col("score") * F.lit(cl.boost)).alias("score"))
    return df


def _node_scored(reader, node) -> DataFrame | None:
    if isinstance(node, Clause):
        return _clause_scored(reader, node)
    inner = _exec_nodes(reader, node.children)
    if inner is None:
        return None
    if node.boost != 1.0:
        inner = inner.select(
            "doc_id", (F.col("score") * F.lit(node.boost)).alias("score")
        )
    return inner


def _node_matches(reader, node) -> DataFrame | None:
    """doc_id set a MUST_NOT node matches. A metadata clause is its
    pushed-down docs filter: negated, it never scores, so it must not pay
    ``field_term``'s df count. Every other node is its scored frame."""
    if isinstance(node, Clause) and node.kind in ("field_term",
                                                  "field_wildcard", "range"):
        return _field_docs(reader, node)
    df = _node_scored(reader, node)
    return None if df is None else df.select("doc_id")


def _exec_nodes(reader, nodes: list) -> DataFrame | None:
    """BooleanQuery algebra over one nesting level → (doc_id, score) of ALL
    matching docs, or None when the level can match nothing.

    One tagged union, one aggregation: every node's frame is tagged with
    its occur and a single ``groupBy("doc_id")`` sums the score and counts
    the MUST and the MUST_NOT rows. A doc is kept when its MUST count
    equals the number of MUST nodes and no MUST_NOT row is present; a kept
    doc then has only positive rows, so with no MUST ≥1 SHOULD matched.
    Each text clause's kernel runs once; a MUST_NOT row's score is never
    summed into a kept doc.

    Precondition: every node's frame has distinct doc_ids (salt slices are
    disjoint, ``slice_doc_ids`` uniques, the docs table holds one row per
    id), so a row count is a node count."""
    musts = [n for n in nodes if n.occur == MUST]
    shoulds = [n for n in nodes if n.occur == SHOULD]
    nots = [n for n in nodes if n.occur == MUST_NOT]
    tagged: list[DataFrame] = []
    for n in musts + shoulds:
        df = _node_scored(reader, n)
        if df is None:
            if n.occur == MUST:
                return None  # a MUST node that can't match → empty result
            continue
        tagged.append(df.select("doc_id", "score", F.lit(n.occur).alias("occur")))
    if not tagged:
        return None  # Lucene: no positive clause → no hits
    for n in nots:
        df = _node_matches(reader, n)
        if df is not None:
            tagged.append(df.select("doc_id", F.lit(0.0).alias("score"),
                                    F.lit(MUST_NOT).alias("occur")))

    union = tagged[0]
    for df in tagged[1:]:
        union = union.unionByName(df)
    occur = F.col("occur")
    return (union.groupBy("doc_id")
            .agg(F.sum("score").alias("score"),
                 F.count(F.when(occur == MUST, 1)).alias("musts"),
                 F.count(F.when(occur == MUST_NOT, 1)).alias("nots"))
            .filter((F.col("musts") == len(musts)) & (F.col("nots") == 0))
            .select("doc_id", "score"))


def boolean_scored(reader, q: str, *,
                   filter_df: DataFrame | None = None) -> DataFrame | None:
    """Parse ``q`` and return ALL (doc_id, score) matches (un-limited), or
    None when the query can match nothing — the building block the
    PlanExecutor reuses for top-k, numFound and the facet domain.

    ``filter_df``: optional single-column DataFrame of allowed doc_ids (fq
    semantics — restricts the domain, never scores)."""
    scored = _exec_nodes(reader, parse_query(q))
    if scored is None or filter_df is None:
        return scored
    fcol = filter_df.columns[0]
    return scored.join(
        filter_df.select(F.col(fcol).cast("long").alias("doc_id")),
        "doc_id", "leftsemi",
    )


def apply_boolean_filter(df: DataFrame, id_column: str, reader, q: str) -> DataFrame:
    """Restrict ``df`` to the docs a FILTER body (fq / facet.query) matches.

    One Solr special case beyond ``boolean_scored`` (r5 ADVICE, medium): a
    TOP-LEVEL body of only negative clauses (``-lang:py``, a very common
    Solr fq idiom) matches *everything except* the union of the negated
    sub-queries — Solr rewrites top-level pure-negative q/fq as ``*:*``
    minus matches, while BooleanQuery semantics inside a sub-clause still
    require a positive clause. Implemented as anti-joins against the
    caller's own domain (no match-all scan, and correct even when the
    domain is wider than the index). A positive body that can match
    nothing (e.g. a MUST term absent from the corpus) yields the empty
    domain, as before."""
    nodes = parse_query(q)
    if nodes and all(n.occur == MUST_NOT for n in nodes):
        out = df
        for n in nodes:
            nd = _node_matches(reader, n)
            if nd is not None:
                out = out.join(
                    nd.select(F.col("doc_id").alias(id_column)),
                    id_column, "left_anti",
                )
        return out
    scored = _exec_nodes(reader, nodes)
    if scored is None:
        return df.filter(F.lit(False))
    return df.join(
        scored.select(F.col("doc_id").alias(id_column)), id_column, "left_semi"
    )


def filter_body(df: DataFrame, id_column: str, reader, q: str
                ) -> tuple[Column | None, DataFrame]:
    """One FILTER body (fq / facet.query / json.facet query) over ``df`` →
    (SQL predicate or None, restricted ``df``).

    Spark SQL keeps first claim on the string (the established template
    style — and SQL analysis is eager, so a mismatch is known here, never
    a silent misfilter): the predicate and ``df.filter`` of it, no job.
    When SQL REJECTS it and the string carries Lucene operator syntax, the
    predicate is None and the domain is :func:`apply_boolean_filter`'s over
    the index — FilterQuery.java:11-64 renders the same template syntax
    into fq as into q, and Solr facet.query bodies ARE Lucene queries.
    Filters restrict, they NEVER score. Without a ``reader`` or Lucene
    syntax the SQL error re-raises; a Lucene body the parser rejects too
    raises the parser's error chained from the SQL one (both surface)."""
    try:
        pred = F.expr(q)
        return pred, df.filter(pred)
    except Exception as sql_err:
        # not only AnalysisException/ParseException: Spark 4 reads
        # ``lang:py`` as VARIANT path syntax and rejects it with a wrapped
        # SparkException — any eager-analysis rejection means "not SQL
        # over this schema", and the Lucene attempt below happens only
        # BECAUSE SQL raised (never a silent reroute)
        if reader is None or not is_lucene_syntax(q):
            raise
        try:
            return None, apply_boolean_filter(df, id_column, reader, q)
        except Exception as lucene_err:
            raise lucene_err from sql_err


def execute_boolean(reader, q: str, k: int = 10, *, offset: int = 0,
                    filter_df: DataFrame | None = None) -> DataFrame:
    """Parse ``q`` and run it → DataFrame(doc_id, score) top-k.

    ``filter_df``: optional single-column DataFrame of allowed doc_ids (fq
    semantics — restricts the domain BEFORE top-k, never scores)."""
    scored = boolean_scored(reader, q, filter_df=filter_df)
    if scored is None:
        return reader.spark.createDataFrame([], TOPK_DDL)
    return ranked_page(scored, k, offset)


#: does a raw ``q`` string use Lucene operator syntax (vs plain terms)?
#: Solr's LuceneQParser parses EVERY q; our PlanExecutor routes q through
#: the boolean executor only when it actually uses operators — a plain
#: term query behaves identically on both paths (same BM25 contributions),
#: and the ranked WAND path is the faster engine for it.
_SYNTAX_RE = re.compile(
    r'["()*?~^]'                      # phrase/group/wildcard/fuzzy/boost
    r"|(?:^|\s)[+\-!]\S"           # occur prefixes at a token start
    r"|(?:^|\s)(?:AND|OR|NOT|&&|\|\|)(?:\s|$)"  # connectors
    r"|[A-Za-z_][A-Za-z0-9_.]*:"      # field-scoped clause
)


def is_lucene_syntax(q: str) -> bool:
    return bool(_SYNTAX_RE.search(q))


__all__ = [
    "Clause",
    "Group",
    "apply_boolean_filter",
    "boolean_scored",
    "is_lucene_syntax",
    "MUST",
    "MUST_NOT",
    "SHOULD",
    "UnsupportedQuerySyntax",
    "execute_boolean",
    "filter_body",
    "parse_query",
]
