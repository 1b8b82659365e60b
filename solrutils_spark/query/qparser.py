"""Mini Lucene-syntax query parser + boolean executor.

The reference's search model renders raw Lucene query strings into ``q`` /
``fq`` (``Query.java:10-31`` sets the rendered template as the main query;
``FilterQuery.java:11-64`` appends filter queries; templates can emit any
syntax Solr's LuceneQParser accepts). This module parses the practical core
of that syntax and executes it against the engine in one kernel stage:

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

Execution compiles the parsed tree once on the driver into term, phrase,
wildcard/fuzzy and metadata leaves, and evaluates the whole tree in ONE
grouped kernel stage: per salt slice, ``boolean.tree_slice`` scores every
leaf over one candidate read and combines them as set algebra over sorted
doc_id arrays, summing clause scores in clause order. Metadata ids (one
pushed-down docs scan, tagged per leaf) and fq ids ride in the stage's
cogroup side. No join, no per-level aggregation.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass, field, replace
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solrutils_spark.functions.analyzer import K1, analyze
from solrutils_spark.query import arrow_rows
from solrutils_spark.query.arrow_rows import TOPK_DDL
from solrutils_spark.query.boolean import (
    expand_fuzzy,
    expand_wildcard,
    tree_slice,
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
_INT_RE = re.compile(r"[+-]?\d+")
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
            g, pos = _parse_group(q, pos, depth, field_ctx)
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
                g, pos = _parse_group(q, pos, depth, fname)
                attach(g)
                continue
        cl, pos = _parse_atom(q, pos, fname or field_ctx)
        attach(cl)
    if pending_occur is not None or pending_and or pending_prefix:
        raise UnsupportedQuerySyntax(f"dangling connector: {q!r}")
    return nodes, pos


def _parse_group(q: str, pos: int, depth: int,
                 field_ctx: str) -> tuple[Group, int]:
    """``(query)[^boost]`` with ``q[pos] == "("``."""
    children, pos = _parse_nodes(q, pos + 1, depth + 1, field_ctx)
    if pos >= len(q) or q[pos] != ")":
        raise UnsupportedQuerySyntax(f"unclosed '(' in: {q!r}")
    if not children:
        raise UnsupportedQuerySyntax(f"empty group in: {q!r}")
    boost, pos = _boost(q, pos + 1)
    return Group(children=children, boost=boost), pos


def _boost(q: str, pos: int) -> tuple[float, int]:
    """An optional ``^boost`` at ``pos`` → (boost, position after it)."""
    bm = _BOOST_RE.match(q, pos)
    return (float(bm.group(1)), bm.end()) if bm else (1.0, pos)


def _parse_atom(q: str, pos: int, fname: str) -> tuple[Clause, int]:
    qm = _QUOTED_RE.match(q, pos)
    if qm:
        if fname and fname != TEXT_FIELD:
            raise UnsupportedQuerySyntax(
                f"phrase on non-text field: {fname}:{qm.group(0)!r}"
            )
        slop = int(qm.group(2)[1:]) if qm.group(2) else 0
        cl = Clause(kind="phrase", text=_unescape(qm.group(1)), slop=slop)
        cl.boost, pos = _boost(q, qm.end())
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
        if fname == ID_FIELD:
            for v in (rm.group(2), rm.group(3)):
                if v != "*" and not _INT_RE.fullmatch(v):
                    raise UnsupportedQuerySyntax(
                        f"non-integer doc_id range endpoint: {rm.group(0)!r}")
        cl = Clause(
            kind="range", field_name=fname, lo=rm.group(2), hi=rm.group(3),
            incl_lo=rm.group(1) == "[", incl_hi=rm.group(4) == "]",
        )
        cl.boost, pos = _boost(q, rm.end())
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


@dataclass
class _Tree:
    """A tree compiled for ``boolean.tree_slice``; tag ``i``: ``preds[i]``."""
    root: object = None
    leaves: list = field(default_factory=list)
    preds: list = field(default_factory=list)


def _compile(reader, nodes: list, scored: bool = True) -> _Tree | None:
    """A parsed tree compiled on the driver, or None when it can match
    nothing. Unscored (filter bodies, MUST_NOT subtrees), a term clause is
    match-only and a ``field_term`` pays no df count."""
    tree = _Tree()
    tree.root = _level(reader, nodes, tree, scored, 1.0)
    return None if tree.root is None else tree


def _level(reader, nodes: list, tree: _Tree, scored: bool, boost: float):
    """One level → ``(boost, positive, negative)``; None when a MUST node
    can't match or no positive node is left (Lucene: no positive clause)."""
    positive, negative = [], []
    for n in nodes:
        neg = n.occur == MUST_NOT
        c = (_level(reader, n.children, tree, scored and not neg, n.boost)
             if isinstance(n, Group) else
             _leaf(reader, n, tree, scored and not neg))
        if c is None:
            if n.occur == MUST:
                return None
        elif neg:
            negative.append(c)
        else:
            positive.append((c, n.occur == MUST))
    return (boost, positive, negative) if positive else None


def _leaf(reader, cl: Clause, tree: _Tree, scored: bool) -> int | None:
    """Index of the clause's new leaf in ``tree.leaves``, None when it can't
    match (no live term, an absent phrase term, no doc with the value)."""
    if cl.kind in ("term", "phrase"):
        seq = analyze(cl.text)
        idfs = {t: reader.idf(d)
                for t, d in reader.term_dfs(sorted(set(seq))).items()}
        if cl.kind == "phrase" and len(seq) > 1:
            spec = (("phrase", idfs, seq, cl.slop)
                    if len(idfs) == len(set(seq)) else None)
        else:
            spec = (None if not idfs else ("terms", idfs) if scored
                    else ("any", sorted(idfs)))
    elif cl.kind == "wildcard":
        spec = _any(reader, expand_wildcard(reader, cl.text))
    elif cl.kind == "fuzzy":
        spec = _any(reader, expand_fuzzy(reader, cl.text, cl.max_edits,
                                         max_expansions=1024))
    else:
        pred = _field_pred(cl)
        score = 1.0  # Lucene rewrites multi-term/range queries to constant score
        if cl.kind == "field_term" and scored:
            # Lucene BM25 on a keyword field: tf=1, |d|=avgdl=1 ⇒ the constant
            # idf(df_value)/(1+k1); the df count is memoized on the reader
            cache, key = reader._field_df_cache, (cl.field_name, cl.text)
            if key not in cache:
                cache[key] = reader.docs.filter(pred).count()
            df_v = cache[key]
            if df_v == 0:
                return None
            score = reader.idf(df_v) / (1.0 + K1)
        tree.preds.append(pred)
        spec = ("tag", len(tree.preds) - 1, score)
    if spec is None:
        return None
    tree.leaves.append((spec, cl.boost))
    return len(tree.leaves) - 1


def _any(reader, terms: list[str]) -> tuple | None:
    """Constant-score leaf over the live ``terms`` (None: none is live)."""
    live = sorted(reader.term_dfs(sorted(set(terms))))
    return ("any", live) if live else None


def _field_pred(cl: Clause) -> Column:
    """A metadata clause as a predicate on the docs table."""
    col = F.col(cl.field_name)
    if cl.kind == "field_term":
        return col == cl.text
    if cl.kind == "field_wildcard":
        return col.like(cl.text.replace("%", r"\%").replace("_", r"\_")
                        .replace("*", "%").replace("?", "_"))
    conv = (lambda v: F.lit(int(v))) if cl.field_name == ID_FIELD else F.lit
    cond = F.lit(True)
    if cl.lo != "*":
        cond = cond & (col >= conv(cl.lo) if cl.incl_lo else col > conv(cl.lo))
    if cl.hi != "*":
        cond = cond & (col <= conv(cl.hi) if cl.incl_hi else col < conv(cl.hi))
    return cond


def _metadata_ids(reader, preds: list[Column]) -> DataFrame:
    """(doc_id, leaf) per (doc, predicate it matches): ONE pushed-down scan."""
    tags = F.array_compact(F.array(*[F.when(p, F.lit(i))
                                     for i, p in enumerate(preds)]))
    return reader.docs.filter(reduce(operator.or_, preds)).select(
        "doc_id", F.explode(tags).alias("leaf"))


def _run(reader, tree: _Tree, filter_df: DataFrame | None = None
         ) -> DataFrame:
    """(doc_id, score) of ALL docs ``tree`` matches (∩ ``filter_df``): ONE
    ``_per_slice`` stage of ``boolean.tree_slice`` over one candidate read
    of every text leaf's terms. Metadata and filter ids ride in one salted
    (doc_id, salt, leaf) side; the filter is a required score-0.0 leaf
    around the root: it restricts and never changes a score."""
    root, leaves, side = tree.root, list(tree.leaves), []
    if tree.preds:
        side.append(reader.salted_filter(_metadata_ids(reader, tree.preds)))
    if filter_df is not None:
        fq = len(tree.preds)
        side.append(reader.salted_filter(filter_df).select(
            "doc_id", "salt", F.lit(fq).alias("leaf")))
        leaves.append((("tag", fq, 0.0), 1.0))
        root = (1.0, [(root, True), (len(leaves) - 1, True)], [])
    terms = sorted({t for spec, _ in leaves if spec[0] != "tag"
                    for t in spec[1]})
    avgdl, span = float(reader.stats["avgdl"]), reader.salt_span()

    def slice_tree(rows, tagged):
        return arrow_rows.topk_table(*tree_slice(
            rows, tagged or {}, root, leaves, avgdl, span))

    return reader._per_slice(
        reader._candidate_rows(terms, positions=any(
            spec[0] == "phrase" for spec, _ in leaves)),
        slice_tree, TOPK_DDL,
        reduce(DataFrame.unionByName, side) if side else None)


def boolean_scored(reader, q: str, *,
                   filter_df: DataFrame | None = None) -> DataFrame | None:
    """Parse ``q`` and return ALL (doc_id, score) matches (un-limited), or
    None when the query can match nothing — the building block the
    PlanExecutor reuses for top-k, numFound and the facet domain.

    ``filter_df``: optional single-column DataFrame of allowed doc_ids (fq
    semantics — restricts the domain, never scores)."""
    tree = _compile(reader, parse_query(q))
    return None if tree is None else _run(reader, tree, filter_df)


def apply_boolean_filter(df: DataFrame, id_column: str, reader, q: str) -> DataFrame:
    """Restrict ``df`` to the docs a FILTER body (fq / facet.query) matches:
    the body compiled unscored, one kernel stage, one semi-join.

    One Solr special case beyond ``boolean_scored`` (r5 ADVICE, medium): a
    TOP-LEVEL body of only negative clauses (``-lang:py``, a common fq
    idiom) matches *everything except* the union of the negated
    sub-queries (Solr's ``*:*`` minus matches): they run as SHOULD, and one
    anti-join removes their union from the caller's own domain (no
    match-all scan; correct for a domain wider than the index)."""
    nodes = parse_query(q)
    negative = bool(nodes) and all(n.occur == MUST_NOT for n in nodes)
    if negative:
        nodes = [replace(n, occur=SHOULD) for n in nodes]
    tree = _compile(reader, nodes, scored=False)
    if tree is None:
        return df if negative else df.filter(F.lit(False))
    ids = _run(reader, tree).select(F.col("doc_id").alias(id_column))
    return df.join(ids, id_column, "left_anti" if negative else "left_semi")


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


def phrase_search(reader, phrase_text: str, k: int = 10,
                  slop: int = 0) -> DataFrame:
    """Phrase BM25 top-k → DataFrame(doc_id, score): the one-leaf tree of
    ``"phrase_text"~slop``, Lucene PhraseQuery scoring from the positional
    sidecar (``boolean.phrase_slice``). A single-token phrase is a term
    leaf, scored as :meth:`IndexReader.search` scores it (Lucene: a
    TermQuery)."""
    tree = _compile(reader, [Clause(kind="phrase", text=phrase_text, slop=slop)])
    if tree is None:
        return reader.spark.createDataFrame([], TOPK_DDL)
    return ranked_page(_run(reader, tree), k)


_WILDCARD_OK = re.compile(r"^[^*?]*[*?][*?a-z0-9_.*]*$")


def prefix_search(reader, pattern: str, k: int = 10,
                  max_expansions: int = 1024) -> DataFrame:
    """Prefix/wildcard query → constant-score docs, doc_id asc, first k
    (Lucene: ConstantScoreQuery(MultiTermQuery) — index order, score 1.0)."""
    if not _WILDCARD_OK.match(pattern):
        raise ValueError(f"not a wildcard pattern: {pattern!r}")
    return _constant_docs(reader, expand_wildcard(reader, pattern,
                                                  max_expansions), k)


def fuzzy_search(reader, term: str, k: int = 10, max_edits: int = 1,
                 max_expansions: int = 50) -> DataFrame:
    """Fuzzy query → constant-score docs, doc_id asc, first k."""
    return _constant_docs(reader, expand_fuzzy(reader, term, max_edits,
                                               max_expansions), k)


def _constant_docs(reader, terms: list[str], k: int) -> DataFrame:
    """The one-leaf tree of an expansion: its first k docs by doc_id."""
    spec = _any(reader, terms)
    if spec is None:
        return reader.spark.createDataFrame([], TOPK_DDL)
    return (_run(reader, _Tree(root=0, leaves=[(spec, 1.0)]))
            .orderBy(F.asc("doc_id")).limit(k))


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
