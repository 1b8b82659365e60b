"""Executor + rerank + split + bulk + log-stats + html component tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from solrutils_spark.corpus import synth_corpus
from solrutils_spark.index.builder import build_index
from solrutils_spark.operators.executor import PlanExecutor
from solrutils_spark.operators.rerank import ElevationBlock, collect_elevation_ids, elevate
from solrutils_spark.operators.split import highlight, split_results
from solrutils_spark.operators.bulk import bulk_update
from solrutils_spark.operators.stats_report import latency_stats, read_query_log, top_queries
from solrutils_spark.plans.model import SearchModel
from solrutils_spark.query.engine import IndexReader
from solrutils_spark.query.exact import query_terms
from solrutils_spark.sources.html import html_to_text
from solrutils_spark.sources.json_docs import docs_json_array, to_response_docs
from solrutils_spark.sources.xml_ingest import decode_xml_bytes, sniff_charset, transform_xml

N_DOCS = 300
# a postings budget below every Σ df — including 0, a request with no live
# term — so every scored request takes the distributed route
SPARK_ROUTE = -1


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cidx"))
    build_index(synth_corpus(spark, N_DOCS, hot_repeat=500), out, segment_size=64, num_buckets=16)
    reader = IndexReader(spark, out)
    return PlanExecutor(reader.docs, reader)


MODEL = SearchModel(
    {
        "_open_": [{"op": "set", "name": "rows", "value": "5"}],
        "query": {"op": "q", "body": "${value}"},
        "filter": {
            "op": "fq",
            "strict": False,
            "filters": {"lang": {"body": "lang = '${value}'"}},
        },
        "rows": {"op": "set", "name": "rows", "body": "${value:int}"},
        "page": {"op": "noop"},
        "facet": {
            "op": "facet",
            "facets": {
                "lang": {"type": "field", "body": "{!key=${key}}lang"},
                "py_docs": {"type": "query", "body": "{!key=${key}}lang = 'py'"},
            },
        },
        "_close_": [
            {"op": "get", "name": "/page"},
            {
                "op": "if",
                "get": "/page",
                "do": [{"op": "set", "name": "start", "body": "${value:int}"}],
            },
        ],
    }
)


def test_search_lifecycle_scored(engine):
    rsp = engine.search(MODEL, {"query": "posting segment", "rows": 3.0})
    docs = rsp["response"]["docs"]
    assert len(docs) == 3
    assert docs[0]["score"] >= docs[1]["score"] >= docs[2]["score"]
    assert rsp["response"]["numFound"] > 3


def test_search_with_filter_and_facets(engine):
    rsp = engine.search(
        MODEL,
        {"query": "posting", "filter": {"lang": "py"}, "facet": ["lang", "py_docs"]},
    )
    assert all(d["lang"] == "py" for d in rsp["response"]["docs"])
    facets = rsp["facets"]
    assert set(facets["lang"]["buckets"][0]) == {"val", "count"}
    assert facets["lang"]["buckets"][0]["val"] == "py"  # filtered domain → all py
    assert facets["py_docs"] == rsp["response"]["numFound"]


def test_search_lifecycle_boolean_syntax(engine):
    """A q string using Lucene operators routes through the boolean
    executor: results equal execute_boolean, numFound = |match domain|."""
    from solrutils_spark.query.qparser import execute_boolean

    q = "+posting -segment"
    rsp = engine.search(MODEL, {"query": q, "rows": 5.0})
    docs = rsp["response"]["docs"]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in execute_boolean(engine.reader, q, 5).collect()]
    assert [(d["doc_id"], round(d["score"], 9)) for d in docs] == want
    # numFound is the boolean match domain, not the OR-of-terms domain
    dom = execute_boolean(engine.reader, q, 10_000).count()
    assert rsp["response"]["numFound"] == dom
    or_dom = engine.reader.scored_domain("posting segment").count()
    assert dom < or_dom  # MUST_NOT actually excluded


def test_search_boolean_syntax_with_fq_and_facets(engine):
    rsp = engine.search(
        MODEL,
        {"query": '+posting "posting segment"', "filter": {"lang": "py"},
         "facet": ["lang"]},
    )
    assert all(d["lang"] == "py" for d in rsp["response"]["docs"])
    buckets = rsp["facets"]["lang"]["buckets"]
    assert buckets and buckets[0]["val"] == "py"
    assert rsp["response"]["numFound"] == sum(b["count"] for b in buckets)


def test_search_plain_q_stays_on_ranked_path(engine):
    """No operators → identical to the WAND path (same engine as before)."""
    rsp = engine.search(MODEL, {"query": "posting segment", "rows": 5.0})
    want = [(r["doc_id"], round(r["score"], 9))
            for r in engine.reader.search("posting segment", 5).collect()]
    got = [(d["doc_id"], round(d["score"], 9)) for d in rsp["response"]["docs"]]
    assert got == want


def test_search_unscored_sort_paging(engine):
    model = SearchModel(
        {
            "sortBy": {"op": "sortBy", "map": {"size": "doc_len desc,doc_id asc"}},
            "rows": {"op": "set", "name": "rows", "body": "${value:int}"},
            "start": {"op": "set", "name": "start", "body": "${value:int}"},
            "fl": {"op": "set", "name": "fl", "body": "${value}"},
        }
    )
    rsp = engine.search(
        model, {"sortBy": "size", "rows": 4.0, "start": 2.0, "fl": "doc_id,doc_len"}
    )
    docs = rsp["response"]["docs"]
    assert len(docs) == 4
    assert set(docs[0]) == {"doc_id", "doc_len"}
    lens = [d["doc_len"] for d in docs]
    assert lens == sorted(lens, reverse=True)


def test_nested_search_collect(engine):
    """B8/J1 — inner search collects field values into currentValue, outer
    query interpolates them (decorrelated IN-subquery)."""
    model = SearchModel(
        {
            "find": [
                {
                    "op": "search",
                    "collect": "lang",
                    "model": {
                        "q": {"op": "q", "body": "${value}"},
                        "_open_": [
                            {"op": "set", "name": "rows", "value": "3"},
                            {"op": "set", "name": "fl", "value": "doc_id,lang"},
                        ],
                    },
                    "json": {"q": "${find}"},
                },
                {"op": "set", "name": "inner_langs", "body": "${value:join(separator=',')}"},
            ]
        }
    )
    rsp = engine.search(model, {"find": "posting segment"})
    langs = rsp["responseHeader"]["params"]["inner_langs"][0]
    assert langs and all(l in {"py", "java", "js", "go", "rs"} for l in langs.split(","))


def test_rerank_elevation(spark, engine):
    docs = engine.collection
    blocks = [
        ElevationBlock(filters=["lang = 'go'"], rows=2, sort="doc_id asc"),
        ElevationBlock(filters=["lang = 'go'"], rows=2, sort="doc_id asc"),
    ]
    strata = collect_elevation_ids(docs, blocks)
    assert len(strata[0]) == 2 and len(strata[1]) == 2
    assert not set(strata[0]) & set(strata[1])  # progressive exclusion

    results = docs.select("doc_id").withColumn("score", F.lit(1.0)).limit(50)
    ranked = [r["doc_id"] for r in elevate(results, strata).collect()]
    want_top = [i for i in strata[0] + strata[1] if i in set(ranked)]
    assert ranked[: len(want_top)] == want_top


def test_split_and_highlight(spark, engine):
    reader = engine.reader
    topk = reader.search("posting segment", 40)
    scored = reader.docs.join(topk, "doc_id")
    main, split = split_results(scored, "lang = 'py'", main_rows=5, split_rows=5)
    m, s = main.collect(), split.collect()
    assert all(r["lang"] != "py" for r in m)
    assert all(r["lang"] == "py" for r in s)
    hl = highlight(split.limit(3), "posting segment").collect()
    assert any(r["highlight"] and "<em>" in r["highlight"] for r in hl)


def test_bulk_update_dryrun_track_and_apply(engine):
    docs = engine.collection
    res = bulk_update(docs, ["lang = 'rs'"], dryrun=True)
    n_rs = res["numFound"]
    assert res["dryrun"] and n_rs > 0

    res = bulk_update(
        docs,
        ["lang = 'rs'"],
        transform=lambda df: df.withColumn("lang", F.lit("rust")),
        track=True,
    )
    assert res["numFound"] == n_rs
    assert len(res["ids"]) == n_rs
    updated = res["updated"]
    assert updated.count() == docs.count()
    assert updated.filter("lang = 'rust'").count() == n_rs
    assert updated.filter("lang = 'rs'").count() == 0


def test_bulk_contains_guard(engine):
    docs = engine.collection
    all_n = bulk_update(docs, [], dryrun=True)["numFound"]
    some = bulk_update(docs, [], contains="hotTermZipfianStorm", dryrun=True)["numFound"]
    assert some == 1 and all_n == N_DOCS


def test_query_log_stats(spark, tmp_path):
    lines = [
        '[reporting] 2024-01-02T10:00:00 query="alpha" numFound=5 time=12',
        '[reporting] 2024-01-02T11:00:00 query="alpha" numFound=5 time=20 spellcheck=true',
        '[reporting] 2024-01-03T10:00:00 query="beta" numFound=0 time=7',
        "noise line that does not match",
    ]
    p = tmp_path / "search.log.2024-01-02"
    p.write_text("\n".join(lines))
    log = read_query_log(spark, str(tmp_path / "search.log*"))
    assert log.count() == 3
    top = top_queries(log, min_count=1, limit=10).collect()
    assert top[0]["q"] == "alpha" and top[0]["count"] == 2
    zero = top_queries(log, bucket="zero").collect()
    assert [r["q"] for r in zero] == ["beta"]
    sc = top_queries(log, bucket="spellcheck").collect()
    assert [r["q"] for r in sc] == ["alpha"]
    days = latency_stats(log).collect()
    assert len(days) == 2 and days[0]["n"] == 2


def test_html_to_text_golden():
    # HtmlReaderTest.java:13-19 golden
    html = "Does <p style=\"color:#000;\" id='my'>it really <br><span>work</span></p>?"
    assert html_to_text(html) == "Does it really work?"
    assert html_to_text("<script>var x=1;</script>hi &amp; bye") == "hi & bye"


def test_charset_sniffing():
    assert sniff_charset(b'\xef\xbb\xbf<?xml version="1.0"?>') == "utf-8"
    assert sniff_charset(b'<?xml version="1.0" encoding="ISO-8859-1"?>') == "iso-8859-1"
    assert decode_xml_bytes("<a>é</a>".encode("utf-8")) == "<a>é</a>"


def test_transform_xml_plumbing(spark):
    df = spark.createDataFrame([("f1", "<doc><t>Hello</t></doc>")], "path string, xml string")
    out = transform_xml(df, lambda x: x.upper(), keep_raw=True).collect()[0]
    assert out["doc"] == "<DOC><T>HELLO</T></DOC>"
    assert out["xml"].startswith("<doc>")  # raw retained


_CATALOG_XSLT = """<xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
  <xsl:template match="/">
    <add><xsl:apply-templates select="catalog/product"/></add>
  </xsl:template>
  <xsl:template match="product">
    <doc>
      <field name="id"><xsl:value-of select="@sku"/></field>
      <field name="title"><xsl:value-of select="name"/></field>
      <field name="price"><xsl:value-of select="price/@amount"/></field>
      <xsl:if test="not(discontinued)"><field name="active">true</field></xsl:if>
      <xsl:for-each select="tags/tag">
        <field name="tag_ss"><xsl:value-of select="."/></field>
      </xsl:for-each>
      <xsl:choose>
        <xsl:when test="price/@currency='EUR'"><field name="region">eu</field></xsl:when>
        <xsl:otherwise><field name="region">other</field></xsl:otherwise>
      </xsl:choose>
    </doc>
  </xsl:template>
</xsl:stylesheet>"""

_CATALOG_XML = """<catalog>
  <product sku="A1"><name>Widget</name><price amount="9.99" currency="EUR"/>
    <tags><tag>small</tag><tag>red</tag></tags></product>
  <product sku="B2"><name>Gadget</name><price amount="19.99" currency="USD"/>
    <discontinued/><tags><tag>big</tag></tags></product>
</catalog>"""


def test_xslt_transform_real():
    """S3 round-trip without lxml: the MiniXSLT subset interpreter maps a
    catalog to Solr add-docs (XsltUpdateHandler.java:114-136 semantics)."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.xml_ingest import make_xslt_transform

    out = make_xslt_transform(_CATALOG_XSLT)(_CATALOG_XML)
    tree = ET.fromstring(out)
    assert tree.tag == "add" and len(tree) == 2
    by_id = {}
    for doc in tree:
        fields: dict = {}
        for f in doc:
            fields.setdefault(f.get("name"), []).append(f.text)
        by_id[fields["id"][0]] = fields
    a1, b2 = by_id["A1"], by_id["B2"]
    assert a1["title"] == ["Widget"] and a1["price"] == ["9.99"]
    assert a1["active"] == ["true"] and a1["region"] == ["eu"]
    assert a1["tag_ss"] == ["small", "red"]
    assert "active" not in b2 and b2["region"] == ["other"]
    assert b2["tag_ss"] == ["big"]


def test_html2xml_reference_semantics(spark):
    """S9 — Html2Xml.java:50-195 twin: DOM build, attribute whitelist,
    px→em, href resolution, width→columnN, script-body drop."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.html2xml import (
        STYLE_DECODE,
        STYLE_IGNORE,
        html_to_xml,
        html_to_xml_col,
        html_to_xml_string,
    )

    # HtmlReaderTest.java:21-33 brTest golden: first child node is 'br'
    el = html_to_xml("<br/>", "test")
    assert list(el)[0].tag == "br"

    s = html_to_xml_string(
        "Does <p style=\"color:#000;\" id='my' class=\"c\" foo=\"x\">it really "
        "<br><span>work</span></p>?"
    )
    assert 'style="color:#000;"' in s and 'id="my"' in s and 'class="c"' in s
    assert "foo=" not in s  # non-whitelisted attribute dropped

    s2 = html_to_xml_string('<p style="margin-left:36px; color:red">x</p>', style=STYLE_DECODE)
    assert 'margin-left="2.0em"' in s2 and 'color="red"' in s2
    assert "style=" not in html_to_xml_string('<p style="c:1">x</p>', style=STYLE_IGNORE)

    s3 = html_to_xml_string('<a name="anchor" valign="top" height="50%" title="t">y</a><img height="36">')
    assert 'id="anchor"' in s3 and "valign" not in s3
    assert "50%" not in s3 and 'height="2.0em"' in s3  # % dropped, px→em

    s4 = html_to_xml_string('<a href="sub/page 1.html">z</a>', base_uri="http://ex.com/root/")
    assert 'href="http://ex.com/root/sub/page%201.html"' in s4
    s5 = html_to_xml_string('<a href="#frag">z</a>', base_uri="http://ex.com/")
    assert 'href="#frag"' in s5  # fragment/absolute left alone

    s6 = html_to_xml_string(
        '<table><tbody><tr><td width="100">a</td><td width="200">b</td></tr></tbody></table>'
    )
    assert 'column1="100"' in s6 and 'column2="200"' in s6

    s7 = html_to_xml_string("before<script>var x=1;</script>after")
    assert "var x" not in s7 and "<script" in s7 and "after" in s7

    df = spark.createDataFrame([(1, "<p id='a'>hi</p>")], "i long, h string")
    out = df.select(html_to_xml_col(df.h).alias("x")).first()["x"]
    assert ET.fromstring(out).find("p").get("id") == "a"


def test_html2xml_lenient_on_arbitrary_input():
    """Property: like the reference tokenizer, conversion never raises and
    always yields a parseable XML document, whatever bytes arrive."""
    import xml.etree.ElementTree as ET

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from solrutils_spark.sources.html2xml import html_to_xml_string

    html_ish = st.text(
        alphabet=st.sampled_from(list("<>/=\"' abcdiv&;#!-px123\n\t")), max_size=200
    )

    @settings(max_examples=150, deadline=None)
    @given(html_ish)
    def prop(s):
        out = html_to_xml_string(s)
        ET.fromstring(out)  # well-formed, parseable

    prop()


def test_xslt_unsupported_raises():
    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    bad = """<xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="a"><xsl:for-each select="namespace::x"><y/></xsl:for-each></xsl:template>
    </xsl:stylesheet>"""
    import pytest

    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(bad)("<a/>")
    imp = """<xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:import href="other.xsl"/>
      <xsl:template match="/"><r/></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(imp)
    # key() over a key name the stylesheet never declared
    nokey = """<xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><r><xsl:value-of select="key('nope', 'x')"/></r></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(nokey)("<a/>")


def test_xslt_extended_constructs():
    """Round-3 minixslt extensions: named templates + call-template with
    params, position()/last(), xsl:copy-of, and step predicates — the
    constructs real Solr mapping stylesheets use next (reference contract
    XsltUpdateHandler.java:114-136; exercised the XSLTest.java way: compile
    stylesheet, transform document, compare serialized output)."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.minixslt import MiniXSLT

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <add>
          <xsl:for-each select="/catalog/item[@active='yes']">
            <doc>
              <xsl:attribute name="n"><xsl:value-of select="position()"/></xsl:attribute>
              <xsl:attribute name="of"><xsl:value-of select="last()"/></xsl:attribute>
              <xsl:call-template name="emit-field">
                <xsl:with-param name="fname">title</xsl:with-param>
                <xsl:with-param name="fval" select="name"/>
              </xsl:call-template>
              <xsl:call-template name="emit-field">
                <xsl:with-param name="fval" select="@sku"/>
              </xsl:call-template>
              <xsl:if test="position()=1">
                <xsl:copy-of select="meta"/>
              </xsl:if>
              <first_tag><xsl:value-of select="tags/tag[1]"/></first_tag>
              <last_tag><xsl:value-of select="tags/tag[last()]"/></last_tag>
              <red_tag><xsl:value-of select="tags/tag[@color='red']"/></red_tag>
            </doc>
          </xsl:for-each>
        </add>
      </xsl:template>
      <xsl:template name="emit-field">
        <xsl:param name="fname">id</xsl:param>
        <xsl:param name="fval"/>
        <field name="{$fname}"><xsl:value-of select="$fval"/></field>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = """<catalog>
      <item sku="A1" active="yes">
        <name>Widget</name>
        <meta lang="en"><note>keep me</note></meta>
        <tags><tag color="red">r</tag><tag>mid</tag><tag>zz</tag></tags>
      </item>
      <item sku="B2" active="no"><name>Gadget</name></item>
      <item sku="C3" active="yes">
        <name>Sprocket</name>
        <tags><tag>only</tag></tags>
      </item>
    </catalog>"""
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    assert out.tag == "add" and len(out) == 2  # B2 fails the predicate
    d1, d2 = list(out)
    assert (d1.get("n"), d1.get("of")) == ("1", "2")
    assert (d2.get("n"), d2.get("of")) == ("2", "2")
    fields1 = {f.get("name"): f.text for f in d1.findall("field")}
    assert fields1 == {"title": "Widget", "id": "A1"}  # param default kicked in
    fields2 = {f.get("name"): f.text for f in d2.findall("field")}
    assert fields2 == {"title": "Sprocket", "id": "C3"}
    meta = d1.find("meta")  # copy-of: deep copy, attributes + children intact
    assert meta is not None and meta.get("lang") == "en"
    assert meta.find("note").text == "keep me"
    assert d2.find("meta") is None  # position()=1 guard
    assert d1.find("first_tag").text == "r"
    assert d1.find("last_tag").text == "zz"
    assert d1.find("red_tag").text == "r"
    assert d2.find("first_tag").text == "only"
    assert d2.find("last_tag").text == "only"
    assert d2.find("red_tag").text is None  # no match → empty


def test_xslt_distributed(spark):
    """The compiled transform runs inside mapInPandas (Templates cached on
    the driver, shipped to executors by closure)."""
    from solrutils_spark.sources.xml_ingest import make_xslt_transform

    t = make_xslt_transform(_CATALOG_XSLT)
    df = spark.createDataFrame(
        [(f"f{i}", _CATALOG_XML) for i in range(8)], "path string, xml string"
    )
    rows = transform_xml(df, t, keep_raw=True).collect()
    assert len(rows) == 8
    assert all(r["doc"].startswith("<add>") and 'name="id">A1' in r["doc"] for r in rows)


def test_filter_cache_reuse_and_lru_eviction(spark, engine):
    """Solr filterCache twin: identical fq sets reuse ONE persisted domain;
    the least-recently-used entry is unpersisted at capacity."""
    from solrutils_spark.operators.executor import PlanExecutor
    from solrutils_spark.plans.plan import QueryPlan

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    ex = PlanExecutor(df, engine.reader, filter_cache_size=2)

    p1 = QueryPlan()
    p1.add("fq", "doc_id % 2 = 0")
    a = ex._cached_filter_ids(p1)
    assert a is ex._cached_filter_ids(p1)  # hit: same persisted DataFrame
    assert a.count() == 50

    p2 = QueryPlan(); p2.add("fq", "doc_id > 50")
    p3 = QueryPlan(); p3.add("fq", "doc_id > 90")
    ex._cached_filter_ids(p2)
    ex._cached_filter_ids(p1)          # touch p1 → p2 becomes LRU
    ex._cached_filter_ids(p3)          # capacity 2 → evicts p2
    assert ("doc_id > 50",) not in ex._filter_cache
    assert ("doc_id % 2 = 0",) in ex._filter_cache
    assert ex._cached_filter_ids(p2).count() == 49  # recomputed fine


def test_json_sink(spark):
    df = spark.createDataFrame([(1, 'say "hi"')], "id long, t string")
    arr = docs_json_array(df)
    assert arr == '[{"id":1,"t":"say \\"hi\\""}]'
    assert to_response_docs(df) == [{"id": 1, "t": 'say "hi"'}]


def test_rtime_and_reporting_log(engine, caplog):
    import logging

    with caplog.at_level(logging.INFO, logger="solrutils_spark.search"):
        rsp = engine.search(MODEL, {"query": "posting"})
    assert rsp["responseHeader"]["RTime"] >= 0
    recs = [r.message for r in caplog.records if "[reporting]" in r.message]
    assert recs and 'query="posting"' in recs[0] and "numFound=" in recs[0]


def test_reporting_log_roundtrips_into_stats(spark, engine, tmp_path, caplog):
    """Our own emitted log lines must parse with read_query_log (S7 loop)."""
    import logging

    with caplog.at_level(logging.INFO, logger="solrutils_spark.search"):
        engine.search(MODEL, {"query": "posting segment"})
        engine.search(MODEL, {"query": "posting segment"})
    lines = [r.message for r in caplog.records if "[reporting]" in r.message]
    p = tmp_path / "search.log"
    p.write_text("\n".join(lines))
    log = read_query_log(spark, str(p))
    assert log.count() == 2
    top = top_queries(log).collect()
    assert top[0]["q"] == "posting segment" and top[0]["count"] == 2


def test_one_domain_decode_per_request(engine, monkeypatch):
    """A scored+fq+facet request decodes the query-term postings ONCE, on
    either route. Distributed (budget forced below every Σ df):
    ``scored_domain`` (the one scored pass) is built exactly once, and every
    facet family acts on a domain whose match side is that PERSISTED frame
    — no second kernel plan — the reference holds one searcher snapshot per
    request (SearchOp.java:133-148). Round 2 rebuilt the decode per facet
    family. Driver: ``scored_local`` reads the candidate rows once and the
    field facet reads doc-values, not a DataFrame."""
    from solrutils_spark.operators import executor as ex_mod
    from solrutils_spark.query.engine import IndexReader

    decode_plans: list[str] = []
    orig_scored = IndexReader.scored_domain

    def spy_scored(self, q, **kw):
        decode_plans.append(q)
        return orig_scored(self, q, **kw)

    local_reads: list[list[str]] = []
    orig_local_rows = IndexReader._local_rows

    def spy_local_rows(self, terms):
        local_reads.append(terms)
        return orig_local_rows(self, terms)

    monkeypatch.setattr(IndexReader, "scored_domain", spy_scored)
    monkeypatch.setattr(IndexReader, "_local_rows", spy_local_rows)

    facet_domain_cached: list[bool] = []
    orig_field_facet = ex_mod.field_facet
    orig_query_facets = ex_mod.query_facets

    def reads_persisted_matches(domain) -> bool:
        # the kernel may appear only INSIDE the cached relation's plan
        plan = domain._jdf.queryExecution().optimizedPlan().toString()
        outside, cached = (plan.split("InMemoryRelation", 1) + [""])[:2]
        return bool(cached) and "FlatMap" not in outside

    def spy_field_facet(domain, spec, **kw):
        facet_domain_cached.append(reads_persisted_matches(domain))
        return orig_field_facet(domain, spec, **kw)

    def spy_query_facets(domain, specs, **kw):
        facet_domain_cached.append(reads_persisted_matches(domain))
        return orig_query_facets(domain, specs, **kw)

    monkeypatch.setattr(ex_mod, "field_facet", spy_field_facet)
    monkeypatch.setattr(ex_mod, "query_facets", spy_query_facets)

    driver_req = {"query": "posting", "filter": {"lang": "py"}, "facet": ["lang"]}
    rsp = engine.search(MODEL, driver_req)
    assert rsp["response"]["numFound"] > 0
    assert decode_plans == [] and local_reads == [["posting"]]
    assert facet_domain_cached == []  # doc-values, no facet DataFrame

    monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", SPARK_ROUTE)
    local_reads.clear()
    for req in (driver_req, {**driver_req, "facet": ["lang", "py_docs"]}):
        decode_plans.clear()
        facet_domain_cached.clear()
        rsp = engine.search(MODEL, req)
        assert rsp["response"]["numFound"] > 0
        assert len(decode_plans) == 1  # one decode plan per request
        assert facet_domain_cached == [True] * len(req["facet"])
    assert local_reads == []


@pytest.fixture(scope="module")
def serving(spark, engine):
    """An executor over a serving-cached reader of the ``engine`` index."""
    reader = IndexReader(spark, engine.reader.index_dir).cache_for_serving()
    yield PlanExecutor(reader.docs, reader)
    reader.index.unpersist()


def _request_jobs(spark, executor, req, group):
    """(response, Spark job count) of one request run under a caller-set
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "request job budget")
    try:
        rsp = executor.search(MODEL, req)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rsp, len(sc.statusTracker().getJobIdsForGroup(group))


def test_request_job_budget(spark, serving, monkeypatch):
    """A warm ranked q + fq + facet request runs 0 Spark jobs on the driver
    route. Forced onto the distributed route (budget below every Σ df) over
    the serving cache it runs at most 8 (12 before it took hits, numFound
    and facets from one persisted scored domain) and builds that domain
    once. A Lucene-syntax request evaluates its boolean plan once: 7 jobs
    here, 16 before."""
    from solrutils_spark.operators import executor as ex_mod
    from solrutils_spark.query import qparser
    from solrutils_spark.query.engine import IndexReader

    req = {"query": "posting segment", "filter": {"lang": "py"},
           "facet": ["lang"]}
    built: list[str] = []
    orig_scored = IndexReader.scored_domain

    def spy_scored(self, q, **kw):
        built.append(q)
        return orig_scored(self, q, **kw)

    monkeypatch.setattr(IndexReader, "scored_domain", spy_scored)
    _request_jobs(spark, serving, req, "budget-driver-warm")  # fills the caches
    rsp, jobs = _request_jobs(spark, serving, req, "budget-driver")
    assert rsp["response"]["numFound"] > 0
    assert jobs == 0, jobs
    assert built == []

    monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", SPARK_ROUTE)
    _request_jobs(spark, serving, req, "budget-warm")  # fills the filterCache
    built.clear()
    rsp, jobs = _request_jobs(spark, serving, req, "budget-ranked")
    assert rsp["response"]["numFound"] > 0
    assert jobs <= 8, jobs
    assert built == ["posting segment"]

    evaluated: list[str] = []
    orig_boolean = qparser.boolean_scored

    def spy_boolean(reader, q, **kw):
        evaluated.append(q)
        return orig_boolean(reader, q, **kw)

    monkeypatch.setattr(qparser, "boolean_scored", spy_boolean)
    lucene = {"query": "+posting -segment", "rows": 5.0}
    _request_jobs(spark, serving, lucene, "budget-lucene-warm")
    evaluated.clear()
    rsp, jobs = _request_jobs(spark, serving, lucene, "budget-lucene")
    assert rsp["response"]["numFound"] > 0
    assert evaluated == ["+posting -segment"]
    assert jobs < 16, jobs


@pytest.fixture(scope="module")
def engine_oracle(engine):
    from solrutils_spark.oracle.reference_bm25 import OracleIndex

    rows = engine.collection.select("doc_id", "content", "lang").collect()
    oracle = OracleIndex([(r["doc_id"], r["content"]) for r in rows])
    return oracle, {r["doc_id"]: r["lang"] for r in rows}


# oracle match sets of the Lucene-syntax parity requests (a SHOULD clause
# beside a MUST one only scores)
LUCENE_MATCHES = {
    "+posting -segment":
        lambda o: set(o.postings["posting"]) - set(o.postings["segment"]),
    '+posting "posting segment"': lambda o: set(o.postings["posting"]),
}


def _parity_requests(oracle):
    """Fixed edge cases plus seeded 1-3-term draws from the vocabulary."""
    import random

    reqs = [
        {"query": "posting segment", "filter": {"lang": "py"},
         "facet": ["lang", "py_docs"], "page": 3.0, "rows": 4.0},
        {"query": "posting segment", "rows": 6.0},               # no fq, no facet
        {"query": "parseDateTime", "rows": 1000.0, "facet": ["lang"]},  # rows > numFound
        {"query": "segment", "filter": {"lang": "go"}, "rows": 3.0},     # single term
        {"query": "zzzabsentzzz", "facet": ["lang"]},             # absent term
        {"query": "posting zzzabsentzzz", "filter": {"lang": "py"}},
        {"query": "+posting -segment", "filter": {"lang": "py"},  # Lucene branch
         "facet": ["lang"], "page": 2.0, "rows": 5.0},
        {"query": '+posting "posting segment"', "rows": 1000.0},
    ]
    rng = random.Random(20)
    vocab = sorted(oracle.postings)
    for i in range(6):
        q = " ".join(rng.sample(vocab, 1 + i % 3))
        req = {"query": q, "rows": float(rng.choice([1, 5, 20])),
               "page": float(rng.choice([0, 0, 2]))}
        if i % 2:
            req["filter"] = {"lang": rng.choice(["py", "go", "js"])}
        if i % 3:
            req["facet"] = ["lang"]
        reqs.append(req)
    return reqs


def test_scored_request_parity(spark, engine, engine_oracle, monkeypatch):
    """Executor responses equal the engine's own paths and the oracle, on
    both routes (the default budget, then one below every Σ df): docs
    (ids, exact scores, key order) == ``reader.search`` (or
    ``execute_boolean`` for Lucene syntax) with the same rows/offset/filter,
    numFound == the oracle's match count ∩ fq, facet buckets == a groupBy
    over the docs the oracle matches ∩ fq."""
    from solrutils_spark.operators import executor as ex_mod

    _check_scored_parity(engine, engine_oracle)
    monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", SPARK_ROUTE)
    _check_scored_parity(engine, engine_oracle)


def _check_scored_parity(engine, engine_oracle):
    from solrutils_spark.functions.analyzer import analyze
    from solrutils_spark.query.qparser import execute_boolean, is_lucene_syntax

    oracle, lang_of = engine_oracle
    reader = engine.reader
    for req in _parity_requests(oracle):
        q = req["query"]
        rows, start = int(req.get("rows", 5)), int(req.get("page", 0))
        lang = req.get("filter", {}).get("lang")
        fdf = (engine.collection.filter(F.col("lang") == lang).select("doc_id")
               if lang else None)
        rsp = engine.search(MODEL, req)
        if is_lucene_syntax(q):
            want = execute_boolean(reader, q, rows, offset=start, filter_df=fdf)
            matches = LUCENE_MATCHES[q](oracle)
        else:
            want = reader.search(q, rows, offset=start, filter_df=fdf)
            matches = set(oracle.docs_with_any(sorted(set(analyze(q)))))
        if lang:
            matches = {d for d in matches if lang_of[d] == lang}
        docs = rsp["response"]["docs"]
        assert [(d["doc_id"], d["score"]) for d in docs] == [
            (r["doc_id"], r["score"]) for r in want.collect()], req
        assert all(list(d) == ["doc_id", "score", "repo", "path", "commit",
                               "lang"] for d in docs), req
        assert rsp["response"]["numFound"] == len(matches), req
        if "facet" not in req:
            assert "facets" not in rsp, req
            continue
        counts: dict = {}
        for d in matches:
            counts[lang_of[d]] = counts.get(lang_of[d], 0) + 1
        want_buckets = [{"val": v, "count": n} for v, n in
                        sorted(counts.items(), key=lambda x: (-x[1], x[0]))]
        assert rsp["facets"]["lang"]["buckets"] == want_buckets, req


# facet field with nulls, non-ASCII values and count ties (doc_id mod 7)
TAGS = [None, "é", "Ω", "z", "A", "ä", "日本"]


@pytest.fixture(scope="module")
def tagged(engine):
    """An executor over the ``engine`` index whose collection has a ``tag``
    column."""
    tag = F.element_at(F.array(*[F.lit(t).cast("string") for t in TAGS]),
                       (F.col("doc_id") % len(TAGS) + 1).cast("int"))
    return PlanExecutor(engine.collection.withColumn("tag", tag), engine.reader)


def _plan(q, fq=(), facets=(), **params):
    from solrutils_spark.plans.plan import QueryPlan

    plan = QueryPlan()
    plan.set("q", q)
    for f in fq:
        plan.add("fq", f)
    for f in facets:
        plan.add("facet.field", f)
    for k, v in params.items():
        plan.set(k.replace("_", "."), v)
    return plan


def _route_shapes(engine):
    """(q, fq, facet fields, params) request shapes for the route parity
    test: fixed edge cases plus seeded draws."""
    import random

    shapes = [
        ("posting segment", [], [], {}),
        ("posting segment", ["lang = 'py'"], ["lang"], {"rows": 4, "start": 3}),
        ("parseDateTime", [], ["lang"], {"rows": 1000}),
        ("segment", ["lang = 'go'"], [], {"rows": 3}),
        ("zzzabsentzzz", [], ["lang"], {}),
        ("posting zzzabsentzzz", ["lang = 'py'"], [], {}),
        ("posting", ["lang = 'py'", "doc_id < 200"], ["lang", "tag"], {}),
        ("posting segment", [], ["tag"], {"facet_limit": 3}),
        ("posting segment", [], ["tag"], {"facet_mincount": 20}),
        ("posting", [], ["{!key=L}lang", "tag"], {"fl": "doc_id,path,doc_len"}),
        ("posting", ["lang = 'js'"], ["tag"], {"rows": 0}),
        ("the and for", [], ["lang"], {}),
        ("hotTermZipfianStorm posting", [], ["tag"], {"rows": 20}),
        ("segment", [], [], {"start": 5000}),
        ("segment wand", [], [], {"fl": "doc_id,score"}),
        ("posting", ["lang:py OR lang:go"], ["lang"], {}),  # Lucene fq
        ("posting", ["lang = 'nope'"], ["lang"], {}),        # empty fq domain
        ("+posting -segment", ["lang = 'py'"], ["lang"], {}),  # Lucene q
    ]
    rng = random.Random(8)
    vocab = sorted(engine.reader.term_dfs(
        sorted({t for r in engine.collection.orderBy("doc_id").limit(40)
                .select("content").collect() for t in query_terms(r[0])})))
    for i in range(8):
        q = " ".join(rng.sample(vocab, 1 + i % 3))
        fq = [f"lang = '{rng.choice(['py', 'go', 'js'])}'"] if i % 2 else []
        facets = [["lang"], ["tag"], []][i % 3]
        shapes.append((q, fq, facets, {"rows": rng.choice([1, 5, 20]),
                                       "start": rng.choice([0, 0, 2])}))
    return shapes


def test_driver_route_matches_distributed(tagged, monkeypatch):
    """Both routes return ``repr``-identical responses (ids, exact scores,
    key order, numFound, facet buckets — incl. a field with nulls, non-ASCII
    values and count ties, which Spark orders by (count desc, value asc,
    nulls first)) on 26 request shapes; every ranked shape with a facet.field
    family or none takes the driver route at the default budget."""
    from solrutils_spark.operators import executor as ex_mod
    from solrutils_spark.query.engine import IndexReader
    from solrutils_spark.query.qparser import is_lucene_syntax

    local: list[str] = []
    orig = IndexReader.scored_local

    def spy(self, q, allowed=None):
        local.append(q)
        return orig(self, q, allowed)

    monkeypatch.setattr(IndexReader, "scored_local", spy)
    budget = ex_mod.DRIVER_POSTINGS_BUDGET
    shapes = _route_shapes(tagged)
    assert len(shapes) >= 24
    for q, fq, facets, params in shapes:
        local.clear()
        monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", budget)
        driver = repr(tagged.execute(_plan(q, fq, facets, **params)))
        assert local == ([] if is_lucene_syntax(q) else [q]), q
        monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", SPARK_ROUTE)
        local.clear()
        spark_rsp = repr(tagged.execute(_plan(q, fq, facets, **params)))
        assert local == []
        assert driver == spark_rsp, (q, fq, facets, params)


def test_facet_range_key_local_param(engine):
    """``facet.range={!key=len}doc_len`` reports its buckets under ``len``
    (as ``facet.field`` does), not under the raw spec."""
    def ranges(spec):
        plan = _plan("posting", facet_range=spec, facet_range_start="0",
                     facet_range_end="400", facet_range_gap="100")
        return engine.execute(plan)["facet_counts"]["facet_ranges"]

    plain = ranges("doc_len")
    assert list(plain) == ["doc_len"] and sum(plain["doc_len"].values())
    assert ranges("{!key=len}doc_len") == {"len": plain["doc_len"]}


def test_route_choice(spark, engine, monkeypatch):
    """Lucene q, ``sort``, facet.query / facet.range / json.facet, an
    over-budget Σ df, a duplicated-id collection (for facets) and a facet
    field without exact doc-values (double) take the distributed route;
    a ranked request whose Σ df equals the budget takes the driver route
    and reads no more postings than the budget."""
    from solrutils_spark.operators import executor as ex_mod
    from solrutils_spark.query.engine import IndexReader

    ex = engine
    q = "posting segment"
    sum_df = sum(ex.reader.term_dfs(query_terms(q)).values())
    assert ex._driver_route(_plan(q, ["lang = 'py'"], ["lang"]), q)
    assert not ex._driver_route(_plan("+posting -segment"), "+posting -segment")
    assert not ex._driver_route(_plan(q, sort="doc_id asc"), q)
    for extra in ({"facet_query": "lang = 'py'"}, {"facet_range": "doc_len"},
                  {"json_facet": '{"n": "sum(doc_len)"}'}):
        assert not ex._driver_route(_plan(q, facets=["lang"], **extra), q), extra

    read: list[int] = []
    orig = IndexReader._local_rows

    def spy(self, terms):
        rows = orig(self, terms)
        read.append(sum(int(r.df_part) for r in rows))
        return rows

    monkeypatch.setattr(IndexReader, "_local_rows", spy)
    monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", sum_df - 1)
    assert not ex._driver_route(_plan(q), q)
    monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", sum_df)
    assert ex._driver_route(_plan(q), q)
    ex.execute(_plan(q))
    assert read == [sum_df]

    dup = PlanExecutor(ex.collection.unionByName(ex.collection.limit(3)),
                       ex.reader)
    assert not dup._driver_route(_plan(q, facets=["lang"]), q)
    assert dup._driver_route(_plan(q), q)
    dbl = PlanExecutor(ex.collection.withColumn("x", F.col("doc_id") / 2),
                       ex.reader)
    assert not dbl._driver_route(_plan(q, facets=["x"]), q)


def test_warm_driver_request_runs_no_job(spark, engine):
    """The first driver-route request over cold caches runs the jobs that
    fill them — the fq id collect (1-2 jobs) and the facet field's
    doc-values (a bounds aggregate with a distinct count, several jobs
    under AQE, then one collect): 8 here — a warm one runs
    none."""
    ex = PlanExecutor(engine.collection, engine.reader)
    req = {"query": "posting segment", "filter": {"lang": "go"},
           "facet": ["lang"]}
    cold, cold_jobs = _request_jobs(spark, ex, req, "driver-cold")
    warm, warm_jobs = _request_jobs(spark, ex, req, "driver-warm")
    assert 3 <= cold_jobs <= 12 and warm_jobs == 0, (cold_jobs, warm_jobs)
    cold["responseHeader"].pop("RTime")
    warm["responseHeader"].pop("RTime")
    assert repr(cold) == repr(warm)


def test_driver_cache_memory_bounds(engine):
    """The stated bounds: each filterCache id array is 8 B × |fq domain|
    and at most ``filter_cache_size`` entries are kept; a field's
    doc-values are 4 B × (max doc_id + 1), both under
    ``DRIVER_DOCS_BUDGET``."""
    from solrutils_spark.operators import executor as ex_mod

    ex = PlanExecutor(engine.collection, engine.reader, filter_cache_size=2)
    langs = ["py", "go", "js"]
    for lang in langs:
        ex.execute(_plan("posting", [f"lang = '{lang}'"], ["lang"]))
    assert len(ex._filter_cache) == 2
    for (fq,), entry in ex._filter_cache.items():
        n = engine.collection.filter(fq).count()
        assert entry.ids.dtype == np.int64 and entry.ids.nbytes == 8 * n
        assert n <= ex_mod.DRIVER_DOCS_BUDGET
    max_id = engine.collection.agg(F.max("doc_id")).collect()[0][0]
    assert ex._doc_values["lang"].codes.nbytes == 4 * (max_id + 1)
    assert max_id < ex_mod.DRIVER_DOCS_BUDGET


@pytest.fixture
def arrow_pulls(monkeypatch):
    """Row counts of every ``DataFrame.toArrow`` collect, in order."""
    from pyspark.sql.classic.dataframe import DataFrame

    pulled: list[int] = []
    orig = DataFrame.toArrow

    def spy(self):
        tbl = orig(self)
        pulled.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    return pulled


def test_over_bound_requests_stay_distributed(tagged, monkeypatch, arrow_pulls):
    """An index, fq domain or facet field over the driver route's memory
    bounds sends the request to the distributed route, and nothing over a
    bound reaches the driver: the index size is read from its stats (no
    job), the doc-values bounds are checked by an aggregate job before any
    collect, and the fq id collect stops at budget + 1 rows. The responses
    equal the distributed route's."""
    from solrutils_spark.operators import executor as ex_mod
    from solrutils_spark.operators.facets import doc_values

    q = "posting segment"
    n_docs = tagged.reader.stats["n_docs"]
    fresh = lambda coll=tagged.collection: PlanExecutor(coll, tagged.reader)

    # index over DRIVER_DOCS_BUDGET: no job, nothing pulled
    monkeypatch.setattr(ex_mod, "DRIVER_DOCS_BUDGET", n_docs - 1)
    ex = fresh()
    assert ex._driver_route(_plan(q, ["lang = 'py'"], ["lang"]), q) is None
    assert arrow_pulls == [] and ex._doc_values == {} and ex._filter_cache == {}

    # fq domain over the budget: the collect stops at budget + 1 ids
    monkeypatch.setattr(ex_mod, "DRIVER_DOCS_BUDGET", n_docs)
    doubled = tagged.collection.unionByName(tagged.collection)
    ex = fresh(doubled)
    plan = _plan(q, ["doc_id >= 0"])
    assert ex._driver_route(plan, q) is None
    assert arrow_pulls == [n_docs + 1]
    assert ex._filter_cache[("doc_id >= 0",)].ids is False
    assert ex._driver_route(plan, q) is None and arrow_pulls == [n_docs + 1]

    # facet field over the distinct-value or byte bound: no collect
    arrow_pulls.clear()
    ex = fresh()
    monkeypatch.setattr(ex_mod, "DRIVER_FACET_VALUES", len(TAGS) - 1)
    assert ex._driver_route(_plan(q, facets=["tag"]), q) is None
    assert ex._driver_route(_plan(q, facets=["lang"]), q) is not None
    assert ex._doc_values["tag"] is None and arrow_pulls == [n_docs]
    monkeypatch.setattr(ex_mod, "DRIVER_FACET_BYTES", 10)
    assert ex._driver_route(_plan(q, facets=["path"]), q) is None
    assert ex._doc_values["path"] is None and arrow_pulls == [n_docs]
    plan = _plan(q, ["lang = 'py'"], ["tag", "lang"])
    got = repr(ex.execute(plan))
    assert arrow_pulls == [n_docs]
    monkeypatch.setattr(ex_mod, "DRIVER_POSTINGS_BUDGET", SPARK_ROUTE)
    assert got == repr(fresh().execute(plan))

    # ids outside [0, max_docs) or more rows than max_docs: no collect
    arrow_pulls.clear()
    bounds = dict(max_values=1 << 16, max_bytes=1 << 26)
    shifted = tagged.collection.withColumn("doc_id", F.col("doc_id") + n_docs)
    assert doc_values(shifted, "doc_id", "lang", max_docs=n_docs, **bounds) is None
    assert doc_values(doubled, "doc_id", "lang", max_docs=n_docs, **bounds) is None
    assert arrow_pulls == []
    # within the bounds, a duplicated id is found after the collect
    assert doc_values(doubled, "doc_id", "lang", max_docs=2 * n_docs,
                      **bounds) is None
    assert arrow_pulls == [2 * n_docs]


def test_driver_caches_fill_outside_the_lock(tagged, monkeypatch):
    """No Spark action runs while the executor's cache lock is held: the
    doc-values bounds job and collect, the fq id collect and a Lucene fq's
    jobs (distributed route) all run before the entry is stored."""
    from pyspark.sql.classic.dataframe import DataFrame

    ex = PlanExecutor(tagged.collection, tagged.reader)
    held: list[bool] = []
    for name in ("toArrow", "collect", "count"):
        orig = getattr(DataFrame, name)

        def spy(self, *a, _orig=orig, **kw):
            held.append(ex._lock.locked())
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, spy)
    ex.execute(_plan("posting", ["lang = 'py'"], ["tag", "lang"]))
    ex.execute(_plan("posting", ["lang:py OR lang:go"], facet_query="lang = 'py'"))
    assert held and not any(held), held


def test_concurrent_mixed_requests_equal_serial(spark, engine):
    """Four threads run driver- and distributed-route requests (facet.query,
    Lucene q) through one executor with cold caches and a 2-entry
    filterCache over 3 fq-sets, under a shortened switch interval: every
    response equals the serial run's, the cache keeps its bound and each
    kept id array, and no filter frame is left persisted beyond the
    entries that hold one (a lost update would leak one)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    reqs = [
        {"query": "posting segment", "filter": {"lang": "py"}, "facet": ["lang"]},
        {"query": "segment", "filter": {"lang": "go"}, "facet": ["lang"]},
        {"query": "posting", "filter": {"lang": "py"},
         "facet": ["lang", "py_docs"]},
        {"query": "+posting -segment", "filter": {"lang": "go"}},
        {"query": "wand posting", "facet": ["lang"], "rows": 20.0},
        {"query": "segment posting", "filter": {"lang": "js"}},
    ]

    def run(ex, req):
        rsp = ex.search(MODEL, req)
        rsp["responseHeader"].pop("RTime")
        return repr(rsp)

    serial_ex = PlanExecutor(engine.collection, engine.reader)
    serial = [run(serial_ex, r) for r in reqs]
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persisted())
    ex = PlanExecutor(engine.collection, engine.reader, filter_cache_size=2)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [pool.submit(run, ex, r) for r in reqs * 2]
            got = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert got == serial * 2
    assert len(ex._filter_cache) <= 2
    for key, entry in ex._filter_cache.items():
        want = serial_ex._filter_cache[key]
        if entry.ids is not None:
            assert np.array_equal(entry.ids, want.ids), key
    frames = sum(e.frame is not None for e in ex._filter_cache.values())
    assert len(persisted()) - before <= frames


# driver-route JSON requests (ranked q, fq, facet.field) and point queries
# over the ``engine`` index, for the resident-postings tests
DRIVER_REQS = [
    {"query": "posting segment", "filter": {"lang": "py"}, "facet": ["lang"]},
    {"query": "segment", "filter": {"lang": "go"}, "facet": ["lang"]},
    {"query": "wand posting", "facet": ["lang"], "rows": 20.0},
]
LOCAL_QUERIES = ["posting segment", "hotTermZipfianStorm posting",
                 "delta encode posting list", "wand lucene segment"]


def _driver_request(ex, req):
    rsp = ex.search(MODEL, req)
    rsp["responseHeader"].pop("RTime")
    return repr(rsp)


def _forbid_distributed_route(monkeypatch):
    def distributed(*_a, **_kw):
        raise AssertionError("a JSON request left the driver route")

    monkeypatch.setattr(IndexReader, "scored_domain", distributed)


def _local_calls(reader):
    """Every driver postings entry point over LOCAL_QUERIES: search_local,
    search_conj_local, scored_local without and with an allowed set."""
    allowed = np.arange(0, N_DOCS, 3, dtype=np.int64)

    def scored(q, allowed=None):
        ids, scores = reader.scored_local(q, allowed)
        return ids.tolist(), scores.tolist()

    calls = []
    for q in LOCAL_QUERIES:
        calls += [lambda q=q: reader.search_local(q, 10),
                  lambda q=q: reader.search_conj_local(q, 10),
                  lambda q=q: scored(q),
                  lambda q=q: scored(q, allowed)]
    return calls


def _bucket_bytes(reader) -> dict[int, int]:
    """Resident charge of every index bucket: the ``nbytes`` of its view as
    the reader keeps it (its Arrow buffers, converted copies and term map)."""
    from solrutils_spark.query.arrow_rows import POSTING_COLUMNS, PostingView

    return {b: PostingView(reader._read(f"index/bucket={b}", POSTING_COLUMNS)).nbytes
            for b in range(reader.stats["num_buckets"])}


def test_resident_postings_parity_and_residency(spark, engine, monkeypatch):
    """Driver queries and a driver-route JSON request answer identically
    with every bucket read per call (bound 0: nothing is kept) and with the
    default bound; once a query has made its buckets resident, repeating
    it opens no parquet file."""
    import pyarrow.parquet as pq

    from solrutils_spark.query import engine as engine_mod

    index_dir = engine.reader.index_dir
    default = engine_mod.DRIVER_POSTINGS_BYTES

    def run(reader):
        ex = PlanExecutor(reader.docs, reader)
        return ([call() for call in _local_calls(reader)],
                [_driver_request(ex, req) for req in DRIVER_REQS])

    _forbid_distributed_route(monkeypatch)
    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", 0)
    per_call_reader = IndexReader(spark, index_dir)
    per_call = run(per_call_reader)
    assert per_call_reader._postings == {}
    assert per_call_reader._postings_bytes == 0

    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", default)
    reader = IndexReader(spark, index_dir)
    assert run(reader) == per_call
    assert reader._postings
    assert reader._postings_bytes == sum(
        t.nbytes for t in reader._postings.values()) <= default

    reads: list[str] = []
    orig_read = pq.ParquetFile.read

    def spy_read(self, *a, **kw):
        reads.append(str(self))
        return orig_read(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read", spy_read)
    assert [call() for call in _local_calls(reader)] == per_call[0]
    assert reads == []


def test_resident_postings_bound(spark, engine, monkeypatch):
    """With the bound between one bucket's bytes and two buckets', exactly
    the buckets that fit in query order are held, the resident total never
    exceeds the bound, and the buckets left out still answer identically
    (read per call). Under the smallest bucket's bytes nothing is kept."""
    from solrutils_spark.query import engine as engine_mod

    index_dir = engine.reader.index_dir
    probe = IndexReader(spark, index_dir)
    sizes = _bucket_bytes(probe)
    first_term = {}
    for b in sizes:
        tbl = probe._read(f"index/bucket={b}", ["term"])
        if tbl.num_rows:
            first_term[b] = tbl["term"][0].as_py()
    order = sorted(first_term)
    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", 0)
    want = [probe.search_local(first_term[b], 10) for b in order]
    assert probe._postings == {}

    bound = sizes[order[0]] + sizes[order[1]] - 1
    fits, held = [], 0
    for b in order:
        if held + sizes[b] <= bound:
            fits.append(b)
            held += sizes[b]
    assert 0 < len(fits) < len(order)
    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", bound)
    reader = IndexReader(spark, index_dir)
    for _ in range(2):  # the second pass answers left-out buckets from disk
        got = []
        for b in order:
            got.append(reader.search_local(first_term[b], 10))
            assert reader._postings_bytes <= bound
        assert got == want
        assert sorted(reader._postings) == fits
        assert reader._postings_bytes == held

    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", min(sizes.values()) - 1)
    reader = IndexReader(spark, index_dir)
    assert [reader.search_local(first_term[b], 10) for b in order] == want
    assert reader._postings == {} and reader._postings_bytes == 0


def test_cold_serving_reader_mixed_threads_equal_serial(spark, engine,
                                                         monkeypatch):
    """Four threads share one cold serving reader, mixing search_local /
    search_conj_local / scored_local calls with driver-route JSON requests
    under a shortened switch interval, with the bound at half the index's
    bucket bytes (some buckets resident, some read per call): every result
    equals a serial run's, the resident bytes stay ≤ the bound and no
    bucket is stored (or counted) twice."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from solrutils_spark.query import engine as engine_mod

    def calls(reader, ex):
        return _local_calls(reader) + [lambda req=req: _driver_request(ex, req)
                                       for req in DRIVER_REQS]

    index_dir = engine.reader.index_dir
    serial_reader = IndexReader(spark, index_dir)
    bound = sum(_bucket_bytes(serial_reader).values()) // 2
    serial = [call() for call in calls(
        serial_reader, PlanExecutor(serial_reader.docs, serial_reader))]
    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", bound)
    _forbid_distributed_route(monkeypatch)
    reader = IndexReader(spark, index_dir).cache_for_serving()
    ex = PlanExecutor(reader.docs, reader)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [pool.submit(call) for call in calls(reader, ex) * 2]
            got = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(interval)
        reader.index.unpersist()
    assert got == serial * 2
    assert reader._postings
    assert reader._postings_bytes == sum(
        t.nbytes for t in reader._postings.values()) <= bound


def test_warm_resident_query_does_no_arrow_work(spark, engine, monkeypatch):
    """Once its buckets are resident, a driver query (search_local,
    search_conj_local, scored_local with and without an allowed set) builds
    no view and masks nothing: no ``pc.is_in`` and no ``PostingView``. The
    results equal a reader's at bound 0, where every bucket is read per
    call; once such a bucket did not fit, a query adapts only its terms'
    rows of it, never the whole bucket again."""
    from solrutils_spark.query import arrow_rows
    from solrutils_spark.query import engine as engine_mod

    index_dir = engine.reader.index_dir
    default = engine_mod.DRIVER_POSTINGS_BYTES
    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", 0)
    per_call_reader = IndexReader(spark, index_dir)
    per_call = [call() for call in _local_calls(per_call_reader)]
    assert per_call_reader._unheld and not per_call_reader._postings
    monkeypatch.setattr(engine_mod, "DRIVER_POSTINGS_BYTES", default)
    reader = IndexReader(spark, index_dir)
    assert [call() for call in _local_calls(reader)] == per_call  # warm up
    assert reader._postings and not reader._unheld

    is_in_calls, views = [], []
    is_in, view = engine_mod.pc.is_in, arrow_rows.PostingView

    def counting_is_in(*a, **kw):
        is_in_calls.append(1)
        return is_in(*a, **kw)

    def counting_view(tbl):
        views.append(tbl.num_rows)
        return view(tbl)

    monkeypatch.setattr(engine_mod.pc, "is_in", counting_is_in)
    monkeypatch.setattr(arrow_rows, "PostingView", counting_view)
    for _ in range(2):
        assert [call() for call in _local_calls(reader)] == per_call
    assert is_in_calls == [] and views == []

    assert [call() for call in _local_calls(per_call_reader)] == per_call
    smallest = min(v.num_rows for v in reader._postings.values())
    assert is_in_calls and views and max(views) < smallest


def test_resident_view_footprint_within_charge(spark, engine):
    """What one resident bucket really holds — Python allocations seen by
    tracemalloc plus the growth of Arrow's memory pool — stays within the
    ``nbytes`` it is charged against the bound."""
    import gc
    import tracemalloc

    import pyarrow as pa

    reader = IndexReader(spark, engine.reader.index_dir)
    sizes = _bucket_bytes(reader)  # also caches every bucket's footer
    b = max(sizes, key=sizes.get)
    gc.collect()
    arrow0 = pa.total_allocated_bytes()
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        view = reader._bucket_postings(b)
        gc.collect()
        traced = tracemalloc.get_traced_memory()[0] - base
    finally:
        tracemalloc.stop()
    footprint = traced + pa.total_allocated_bytes() - arrow0
    assert reader._postings == {b: view}
    assert 0 < footprint <= view.nbytes == reader._postings_bytes


def test_cache_for_serving_labels_its_job(spark, engine):
    """cache_for_serving's materializing jobs carry the description
    ``serving: cache index`` (read back from Spark's status store), and the
    caller's own label is restored after."""
    sc = spark.sparkContext
    reader = IndexReader(spark, engine.reader.index_dir)
    sc.setJobGroup("serving-label", "caller label")
    try:
        reader.cache_for_serving()
        assert sc.getLocalProperty("spark.job.description") == "caller label"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        reader.index.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("serving-label")
    store = sc._jsc.sc().statusStore()
    assert jobs
    assert {store.job(j).description().get() for j in jobs} == {
        "serving: cache index"}


def test_scored_request_applies_sort(engine):
    """A scored request with ``sort`` orders its matches by it (ties by
    doc_id), not by score; numFound and scores are unchanged."""
    q = "posting segment"
    matches = {r["doc_id"]: r["score"]
               for r in engine.reader.scored_domain(q).collect()}
    for sort, key in (("doc_id asc", lambda d: d),
                      ("doc_id desc", lambda d: -d),
                      ("score asc", lambda d: (matches[d], d))):
        rsp = engine.execute(_plan(q, rows=5, sort=sort))
        want = sorted(matches, key=key)[:5]
        assert [(d["doc_id"], d["score"]) for d in rsp["response"]["docs"]] == [
            (d, matches[d]) for d in want], sort
        assert rsp["response"]["numFound"] == len(matches)


def test_xslt_params_do_not_leak_across_apply_templates():
    """ADVICE r3: a match-template reached via apply-templates (here, from
    inside a named template holding a param) must NOT see the caller's
    bindings — an unbound $ref raises loudly instead of silently resolving."""
    import pytest

    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><r><xsl:call-template name="t">
        <xsl:with-param name="p" select="'v'"/>
      </xsl:call-template></r></xsl:template>
      <xsl:template name="t"><xsl:param name="p"/>
        <xsl:apply-templates select="doc/a"/></xsl:template>
      <xsl:template match="a"><xsl:value-of select="$p"/></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(sheet)("<doc><a/></doc>")


def test_xslt_key_modes_sort():
    """Round-4 minixslt extensions (verdict #3): xsl:key/key() lookup,
    template modes (incl. built-in-rule descent in-mode), and xsl:sort
    (text + numeric, ascending/descending, multi-key stability) — the next
    constructs real Solr mapping stylesheets hit after round 3's set."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.minixslt import MiniXSLT

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:key name="cat-by-id" match="category" use="@id"/>
      <xsl:template match="/">
        <add>
          <xsl:for-each select="/shop/items/item">
            <xsl:sort select="@grp"/>
            <xsl:sort select="price" data-type="number" order="descending"/>
            <doc sku="{@sku}">
              <cat><xsl:value-of select="key('cat-by-id', @cat)/name"/></cat>
              <xsl:apply-templates select="price" mode="cents"/>
            </doc>
          </xsl:for-each>
          <summary>
            <xsl:apply-templates select="/shop/items" mode="names"/>
          </summary>
        </add>
      </xsl:template>
      <xsl:template match="price" mode="cents">
        <price_display><xsl:value-of select="."/></price_display>
      </xsl:template>
      <!-- mode="names": no template matches <item>, so the built-in rule
           must descend IN MODE and reach <name> -->
      <xsl:template match="name" mode="names">
        <n><xsl:value-of select="."/></n>
      </xsl:template>
      <xsl:template match="price" mode="names"/>
    </xsl:stylesheet>"""
    xml = """<shop>
      <categories>
        <category id="c1"><name>Tools</name></category>
        <category id="c2"><name>Toys</name></category>
      </categories>
      <items>
        <item sku="A" grp="g2" cat="c1"><name>wrench</name><price>9.5</price></item>
        <item sku="B" grp="g1" cat="c2"><name>ball</name><price>2</price></item>
        <item sku="C" grp="g1" cat="c1"><name>hammer</name><price>11</price></item>
        <item sku="D" grp="g1" cat="c2"><name>kite</name><price>2</price></item>
      </items>
    </shop>"""
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    docs = out.findall("doc")
    # grp asc, then price desc within grp; B before D (equal keys: doc order)
    assert [d.get("sku") for d in docs] == ["C", "B", "D", "A"]
    assert [d.find("cat").text for d in docs] == ["Tools", "Toys", "Toys", "Tools"]
    # mode="cents" template applied (not the no-mode built-ins)
    assert docs[0].find("price_display").text == "11"
    # built-in rule descended in mode="names": <name> matched, <price> muted
    assert [n.text for n in out.find("summary").findall("n")] == [
        "wrench", "ball", "hammer", "kite"]
    assert out.find("summary").find("price_display") is None


def test_xslt_variables():
    """Round-4: xsl:variable — top-level globals (doc-order, may reference
    earlier globals and the source document) and template-local bindings
    scoped to the remaining siblings; locals still do not leak through
    apply-templates dispatch."""
    import pytest

    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:variable name="site" select="/cfg/@site"/>
      <xsl:variable name="suffix">-prod</xsl:variable>
      <xsl:template match="/">
        <out>
          <xsl:variable name="local" select="cfg/name"/>
          <a><xsl:value-of select="$site"/><xsl:value-of select="$suffix"/></a>
          <b><xsl:value-of select="$local"/></b>
          <xsl:apply-templates select="cfg/name"/>
        </out>
      </xsl:template>
      <xsl:template match="name">
        <c><xsl:value-of select="$site"/></c>
      </xsl:template>
    </xsl:stylesheet>"""
    out = MiniXSLT(sheet)('<cfg site="s1"><name>alpha</name></cfg>')
    assert out == "<out><a>s1-prod</a><b>alpha</b><c>s1</c></out>"

    # a local must NOT survive apply-templates into a match template
    leak = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <xsl:variable name="v" select="'x'"/>
        <out><xsl:apply-templates select="cfg/name"/></out>
      </xsl:template>
      <xsl:template match="name"><xsl:value-of select="$v"/></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(leak)('<cfg><name>alpha</name></cfg>')


def test_xslt_number():
    """Round-4 xsl:number subset: level=single (sibling position among
    matching sibs, walking up to the nearest counted ancestor), level=any
    (doc-order count), count= patterns, comments skipped by built-ins."""
    import pytest

    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <out><xsl:apply-templates select="book/chapter/section"/></out>
      </xsl:template>
      <xsl:template match="section">
        <s ch="{../@n}">
          <xsl:number count="chapter"/>.<xsl:number/>
          <xsl:text> any=</xsl:text><xsl:number level="any"/>
        </s>
      </xsl:template>
    </xsl:stylesheet>"""
    # note: no parent axis in select paths — count=chapter walks ancestors
    sheet = sheet.replace(' ch="{../@n}"', "")
    xml = """<book>
      <!-- a comment the built-in rules must skip -->
      <chapter><section>a</section><section>b</section></chapter>
      <chapter><section>c</section></chapter>
    </book>"""
    out = MiniXSLT(sheet)(xml)
    import xml.etree.ElementTree as ET

    got = [s.text + (s[0].tail or "") if len(s) else s.text
           for s in ET.fromstring(out).findall("s")]
    flat = ["".join(x.split()) for x in got]
    assert flat == ["1.1any=1", "1.2any=2", "2.1any=3"]

    # use-attribute-sets naming an UNDEFINED set stays loudly gated
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT("""<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><xsl:element name="e" use-attribute-sets="s"/></xsl:template>
        </xsl:stylesheet>""")("<book><section/></book>")


def test_xslt_attribute_sets():
    """XSLT 1.0 §7.1.4 xsl:attribute-set: applied via use-attribute-sets on
    xsl:element / xsl:copy / literal result elements (xsl:use-attribute-sets),
    set-in-set nesting, explicit attributes overriding set attributes, and
    circular references raising."""
    import xml.etree.ElementTree as ET

    import pytest

    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:attribute-set name="base">
        <xsl:attribute name="cls">row</xsl:attribute>
        <xsl:attribute name="role">cell</xsl:attribute>
      </xsl:attribute-set>
      <xsl:attribute-set name="hot" use-attribute-sets="base">
        <xsl:attribute name="hot">yes</xsl:attribute>
        <xsl:attribute name="id"><xsl:value-of select="@id"/></xsl:attribute>
      </xsl:attribute-set>
      <xsl:template match="/">
        <out><xsl:apply-templates select="cat/item"/></out>
      </xsl:template>
      <xsl:template match="item">
        <lit xsl:use-attribute-sets="hot" role="override"/>
        <xsl:element name="dyn" use-attribute-sets="base"/>
        <xsl:copy use-attribute-sets="base"/>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = '<cat><item id="i1"/></cat>'
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    lit = out.find("lit")
    # nested set (base via hot) + the set's own attrs; the literal
    # role="override" wins over the set's role="cell" (§7.1.4)
    assert lit.attrib == {"cls": "row", "role": "override",
                          "hot": "yes", "id": "i1"}
    assert out.find("dyn").attrib == {"cls": "row", "role": "cell"}
    assert out.find("item").attrib == {"cls": "row", "role": "cell"}

    # circular set references raise
    circ = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:attribute-set name="a" use-attribute-sets="b"/>
      <xsl:attribute-set name="b" use-attribute-sets="a"/>
      <xsl:template match="/"><xsl:element name="e" use-attribute-sets="a"/></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(circ)("<x/>")


def test_xslt_include_import_with_resolver():
    """Round-4: xsl:include (same precedence) and xsl:import (lower
    precedence — importing sheet's templates win) via a resolver callback;
    named templates/keys merge; circular includes raise."""
    import pytest

    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    lib = {
        "fields.xsl": """<xsl:stylesheet version="1.0"
            xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template name="emit"><xsl:param name="v"/>
            <field><xsl:value-of select="$v"/></field></xsl:template>
          <xsl:template match="b"><inc-b/></xsl:template>
        </xsl:stylesheet>""",
        "base.xsl": """<xsl:stylesheet version="1.0"
            xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="a"><imported-a/></xsl:template>
          <xsl:template match="c"><imported-c/></xsl:template>
        </xsl:stylesheet>""",
        "loop.xsl": """<xsl:stylesheet version="1.0"
            xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:include href="loop.xsl"/>
        </xsl:stylesheet>""",
    }
    main = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:import href="base.xsl"/>
      <xsl:include href="fields.xsl"/>
      <xsl:template match="/"><r><xsl:apply-templates select="d/*"/>
        <xsl:call-template name="emit">
          <xsl:with-param name="v" select="'x'"/>
        </xsl:call-template></r></xsl:template>
      <xsl:template match="a"><main-a/></xsl:template>
    </xsl:stylesheet>"""
    out = MiniXSLT(main, resolver=lib.__getitem__)("<d><a/><b/><c/></d>")
    # main's <a> beats imported <a>; included <b> is same-precedence;
    # imported <c> fires because nothing in main/included matches c
    assert "<main-a />" in out and "<imported-a" not in out
    assert "<inc-b />" in out
    assert "<imported-c />" in out
    assert "<field>x</field>" in out

    with pytest.raises(UnsupportedXsltError, match="circular"):
        MiniXSLT('<xsl:stylesheet version="1.0" '
                 'xmlns:xsl="http://www.w3.org/1999/XSL/Transform">'
                 '<xsl:include href="loop.xsl"/></xsl:stylesheet>',
                 resolver=lib.__getitem__)
    with pytest.raises(UnsupportedXsltError, match="resolver"):
        MiniXSLT('<xsl:stylesheet version="1.0" '
                 'xmlns:xsl="http://www.w3.org/1999/XSL/Transform">'
                 '<xsl:include href="fields.xsl"/></xsl:stylesheet>')


def test_xslt_named_template_precedence_and_duplicates():
    """Round-5 (ADVICE): a main-sheet named template OVERRIDES an imported
    one (xsl:import = lower precedence), while a duplicate name at EQUAL
    precedence (main + xsl:include, or twice in one sheet) is an XSLT 1.0
    error — raised loudly, never silently first-wins."""
    import pytest

    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    lib = {
        "base.xsl": """<xsl:stylesheet version="1.0"
            xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template name="emit"><from-import/></xsl:template>
        </xsl:stylesheet>""",
        "inc.xsl": """<xsl:stylesheet version="1.0"
            xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template name="emit"><from-include/></xsl:template>
        </xsl:stylesheet>""",
    }
    # import first, then main defines the same name → main wins
    main = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:import href="base.xsl"/>
      <xsl:template match="/"><r><xsl:call-template name="emit"/></r></xsl:template>
      <xsl:template name="emit"><from-main/></xsl:template>
    </xsl:stylesheet>"""
    out = MiniXSLT(main, resolver=lib.__getitem__)("<d/>")
    assert "<from-main />" in out and "from-import" not in out

    # include = SAME precedence → duplicate name is an error
    dup_inc = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:include href="inc.xsl"/>
      <xsl:template match="/"><r/></xsl:template>
      <xsl:template name="emit"><from-main/></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError, match="duplicate named"):
        MiniXSLT(dup_inc, resolver=lib.__getitem__)

    # twice in one sheet → error too
    dup_same = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template name="emit"><a/></xsl:template>
      <xsl:template name="emit"><b/></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError, match="duplicate named"):
        MiniXSLT(dup_same)


def test_xslt_xpath_expressions():
    """Round-5: full XPath 1.0 expressions in test=/select=/predicates/AVTs
    (the JAXP processor the reference compiles exposes full XPath —
    XsltUpdateHandler.java:114-136). Arithmetic, comparisons, the core
    function library, typed variables, and expression predicates."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.minixslt import MiniXSLT

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:variable name="limit" select="2 + 1"/>
      <xsl:template match="/">
        <r>
          <n_items><xsl:value-of select="count(/o/item)"/></n_items>
          <total><xsl:value-of select="sum(/o/item/@price)"/></total>
          <avg><xsl:value-of select="sum(/o/item/@price) div count(/o/item)"/></avg>
          <mod><xsl:value-of select="7 mod 3"/></mod>
          <neg><xsl:value-of select="-(2 * 3) + 1"/></neg>
          <cheap_names>
            <xsl:for-each select="/o/item[@price &lt; 20]">
              <xsl:value-of select="concat(name, ';')"/>
            </xsl:for-each>
          </cheap_names>
          <under_limit>
            <xsl:for-each select="/o/item[position() &lt;= $limit]">
              <xsl:value-of select="substring(name, 1, 3)"/>
            </xsl:for-each>
          </under_limit>
          <xsl:if test="count(/o/item) &gt;= 3 and not(/o/missing)">
            <both/>
          </xsl:if>
          <xsl:if test="/o/item/@price = 30">
            <existential/>
          </xsl:if>
          <strfns><xsl:value-of select="concat(
              translate(normalize-space('  a b  '), 'ab', 'AB'), '|',
              substring-before('k=v', '='), '|',
              substring-after('k=v', '='), '|',
              string-length('abcd'), '|',
              floor(2.7), ceiling(2.2), round(2.5))"/></strfns>
          <boolstr><xsl:value-of select="starts-with('abc','ab')"/></boolstr>
          <names><xsl:value-of select="name(/o/item[1])"/></names>
        </r>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = """<o>
      <item price="10"><name>alpha</name></item>
      <item price="30"><name>beta</name></item>
      <item price="15"><name>gamma</name></item>
    </o>"""
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    assert out.find("n_items").text == "3"
    assert out.find("total").text == "55"
    # 55/3 prints as an XPath number (non-integer keeps its decimals)
    assert out.find("avg").text.startswith("18.33")
    assert out.find("mod").text == "1"
    assert out.find("neg").text == "-5"
    assert out.find("cheap_names").text == "alpha;gamma;"
    assert out.find("under_limit").text == "alpbetgam"  # $limit = 2+1 = 3
    assert out.find("both") is not None
    assert out.find("existential") is not None  # node-set = number: any match
    # floor(2.7)=2, ceiling(2.2)=3, round(2.5)=3 (round-half-up, §4.4)
    assert out.find("strfns").text == "A B|k|v|4|233"
    assert out.find("boolstr").text == "true"
    assert out.find("names").text == "item"


def test_xslt_parent_ancestor_axes():
    """Round-5: parent/ancestor/self axes in select paths (closing the
    VERDICT r4 'remaining axes' gap). ``..``, parent::, ancestor::,
    ancestor-or-self::, self::, and explicit child::/attribute:: sugar."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.minixslt import MiniXSLT

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <r>
          <xsl:for-each select="/lib/shelf/book">
            <b title="{@t}"
               shelf="{../@id}"
               lib="{ancestor::lib/@name}"
               self="{name(self::book)}"
               depth="{count(ancestor-or-self::*)}">
              <xsl:value-of select="parent::shelf/@id"/>
            </b>
          </xsl:for-each>
          <via_child><xsl:value-of select="child::lib/attribute::name"/></via_child>
        </r>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = """<lib name="main">
      <shelf id="s1"><book t="A"/><book t="B"/></shelf>
      <shelf id="s2"><book t="C"/></shelf>
    </lib>"""
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    books = out.findall("b")
    assert [(b.get("title"), b.get("shelf"), b.text) for b in books] == [
        ("A", "s1", "s1"), ("B", "s1", "s1"), ("C", "s2", "s2")
    ]
    assert all(b.get("lib") == "main" for b in books)
    assert all(b.get("self") == "book" for b in books)
    assert all(b.get("depth") == "3" for b in books)  # lib, shelf, book
    assert out.find("via_child").text == "main"


def test_xslt_typed_variables_and_union():
    """Boolean/number variables keep their XPath type through $refs; the
    union operator merges node-sets in document order."""
    import xml.etree.ElementTree as ET

    import pytest

    from solrutils_spark.sources.minixslt import (MiniXSLT,
                                                  UnsupportedXsltError)

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:variable name="on" select="false()"/>
      <xsl:variable name="k" select="2"/>
      <xsl:template match="/">
        <r>
          <xsl:choose>
            <xsl:when test="$on"><yes/></xsl:when>
            <xsl:otherwise><no/></xsl:otherwise>
          </xsl:choose>
          <kth><xsl:value-of select="/d/x[$k]"/></kth>
          <u>
            <xsl:for-each select="/d/b | /d/x">
              <xsl:value-of select="concat(name(), '.')"/>
            </xsl:for-each>
          </u>
        </r>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = "<d><x>one</x><b>mid</b><x>two</x></d>"
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    # a FALSE boolean variable must not truthy-leak through node-set wrapping
    assert out.find("no") is not None and out.find("yes") is None
    assert out.find("kth").text == "two"  # number variable as position pred
    assert out.find("u").text == "x.b.x."  # document order, not operand order
    # loud gate intact: unsupported syntax still raises
    bad = sheet.replace(
        'select="/d/b | /d/x"', 'select="namespace::x"'
    )
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(bad)(xml)


def test_xslt_descendant_axis():
    """Round-5b: ``//`` in select paths (expanded to descendant-or-self,
    XPath §2.5) and in match patterns (§5.2); node-sets come back
    deduplicated in document order; explicit descendant:: axes."""
    import xml.etree.ElementTree as ET

    import pytest

    from solrutils_spark.sources.minixslt import (MiniXSLT,
                                                  UnsupportedXsltError)

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <r>
          <all>
            <xsl:for-each select="//item">
              <xsl:value-of select="concat(@id, '.')"/>
            </xsl:for-each>
          </all>
          <scoped>
            <xsl:for-each select="/cat/sub//item">
              <xsl:value-of select="concat(@id, '.')"/>
            </xsl:for-each>
          </scoped>
          <cnt><xsl:value-of select="count(//item)"/></cnt>
          <exp><xsl:value-of select="count(/descendant-or-self::node()/item)"/></exp>
          <dsc><xsl:value-of select="count(/cat/descendant::item)"/></dsc>
          <txt><xsl:value-of select="count(//text())"/></txt>
          <deep><xsl:apply-templates select="//leaf"/></deep>
        </r>
      </xsl:template>
      <xsl:template match="sub//leaf">[s:<xsl:value-of select="."/>]</xsl:template>
      <xsl:template match="leaf">[t:<xsl:value-of select="."/>]</xsl:template>
    </xsl:stylesheet>"""
    # document order trap: i2 (direct child of sub, AFTER box) must come
    # after i1 (inside box) even though the naive per-parent walk visits
    # sub's own children first
    xml = """<cat>
      <item id="i0"><leaf>top</leaf></item>
      <sub>
        <box><item id="i1"/><leaf>inner</leaf></box>
        <item id="i2"/>
      </sub>
    </cat>"""
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    assert out.find("all").text == "i0.i1.i2."     # document order
    assert out.find("scoped").text == "i1.i2."     # order across depths
    assert out.find("cnt").text == "3"
    assert out.find("exp").text == "3"             # explicit expansion ==
    assert out.find("dsc").text == "3"
    # whitespace-only texts of cat and sub count too (XPath text nodes)
    assert out.find("txt").text == "4"
    # match patterns: sub//leaf (ancestor gap) beats the generic leaf rule
    assert out.find("deep").text == "[t:top][s:inner]"
    # still-loud: descendant::text() points at the //text() spelling
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT(sheet.replace(
            'select="count(//text())"',
            'select="count(descendant::text())"'))(xml)


def test_xslt_number_formats():
    """Round-5b xsl:number: format tokens 1/01/a/A/i/I with literal
    separators, level="multiple", and value=EXPR (XSLT 1.0 §7.7)."""
    import xml.etree.ElementTree as ET

    import pytest

    from solrutils_spark.sources.minixslt import (MiniXSLT,
                                                  UnsupportedXsltError)

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <r><xsl:apply-templates select="//section"/></r>
      </xsl:template>
      <xsl:template match="section">
        <s m="{.}">
          <xsl:number level="multiple" count="chapter|section" format="1.a."/>
          <xsl:text>|</xsl:text>
          <xsl:number format="(i)"/>
          <xsl:text>|</xsl:text>
          <xsl:number value="position() + 25" format="A"/>
          <xsl:text>|</xsl:text>
          <xsl:number format="001"/>
        </s>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = """<book>
      <chapter><section>one</section><section>two</section></chapter>
      <chapter><section>three</section></chapter>
    </book>"""
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    got = ["".join((s.text or "").split()) for s in out.findall("s")]
    assert got == ["1.a.|(i)|Z|001", "1.b.|(ii)|AA|002", "2.a.|(i)|AB|001"]
    # roman + alpha edges via value=
    edge = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <e a="{'x'}"><xsl:number value="1999" format="I"/>
        <xsl:number value="702" format="a"/></e>
      </xsl:template>
    </xsl:stylesheet>"""
    etext = ET.fromstring(MiniXSLT(edge)("<x/>")).itertext()
    assert "".join("".join(etext).split()) == "MCMXCIXzz"
    # unknown format tokens stay loud
    with pytest.raises(UnsupportedXsltError):
        MiniXSLT("""<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><xsl:number value="5" format="一"/>
          </xsl:template></xsl:stylesheet>""")("<x/>")


def test_xslt_copy_element_number_from():
    """Round-5b: xsl:copy (shallow copy, §7.5), xsl:element with an AVT
    name (§7.1.2), and xsl:number from= (bounds/resets counting, §7.7)."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.minixslt import MiniXSLT

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <r><xsl:apply-templates select="//sec"/></r>
      </xsl:template>
      <xsl:template match="sec">
        <xsl:copy>
          <xsl:element name="f{@k}"><xsl:value-of select="."/></xsl:element>
          <n><xsl:number level="any" count="sec" from="part"/></n>
          <s><xsl:number count="sec" from="doc"/></s>
        </xsl:copy>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = ('<doc><part><sec k="1">a</sec><sec k="2">b</sec></part>'
           '<part><sec k="3">c</sec></part></doc>')
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    secs = out.findall("sec")  # xsl:copy reproduced the element name
    assert [(s[0].tag, s[0].text, s.find("n").text, s.find("s").text)
            for s in secs] == [
        ("f1", "a", "1", "1"),   # from=part resets the doc-order count
        ("f2", "b", "2", "2"),   # single-level sibling index unaffected
        ("f3", "c", "1", "1"),
    ]
    # xsl:copy of the document node runs its body in place
    ident = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><xsl:copy><x ok="1"/></xsl:copy></xsl:template>
    </xsl:stylesheet>"""
    assert MiniXSLT(ident)("<a/>") == '<x ok="1" />'


def test_xslt_sibling_axes_and_pattern_predicates():
    """Round-5b: following-/preceding-sibling axes (reverse axes present
    nearest-first proximity order to predicates, XPath §2.2), and step
    predicates in match patterns (XSLT §5.2) — attribute tests and
    positional [N] against same-nodetest siblings."""
    import xml.etree.ElementTree as ET

    import pytest

    from solrutils_spark.sources.minixslt import (MiniXSLT,
                                                  UnsupportedXsltError)

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <r>
          <xsl:for-each select="/cat/item">
            <i id="{@id}"
               next="{following-sibling::item[1]/@id}"
               prev="{preceding-sibling::item[1]/@id}"
               nf="{count(following-sibling::*)}"/>
          </xsl:for-each>
          <near><xsl:value-of select="name(/cat/sub/leaf/ancestor::*[1])"/></near>
          <fol><xsl:value-of select="count(/cat/item[1]/following::*)"/></fol>
          <pre><xsl:value-of select="name(/cat/sub/leaf/preceding::*[1])"/></pre>
          <disp><xsl:apply-templates select="/cat/item"/></disp>
        </r>
      </xsl:template>
      <xsl:template match="item[@active='yes']">+<xsl:value-of select="@id"/></xsl:template>
      <xsl:template match="item[2]">2nd:<xsl:value-of select="@id"/></xsl:template>
      <xsl:template match="item">-<xsl:value-of select="@id"/></xsl:template>
    </xsl:stylesheet>"""
    xml = ('<cat><item id="a" active="yes"/><item id="b"/>'
           '<item id="c" active="yes"/><sub><leaf/></sub></cat>')
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    rows = [(i.get("id"), i.get("next"), i.get("prev"), i.get("nf"))
            for i in out.findall("i")]
    # prev uses [1] on a REVERSE axis: nearest preceding sibling, not first
    assert rows == [
        ("a", "b", "", "3"), ("b", "c", "a", "2"), ("c", "", "b", "1")
    ]
    assert out.find("near").text == "sub"  # nearest ancestor, not root-most
    # following:: excludes the subtree; leaf is inside sub so it counts
    assert out.find("fol").text == "4"     # b, c, sub, leaf
    # preceding:: excludes ancestors; nearest-first ⇒ item c, not a/b
    assert out.find("pre").text == "item"
    # dispatch: attribute-predicate rule, then positional, then fallback
    assert out.find("disp").text == "+a2nd:b+c"
    # // plus predicates in ONE pattern: cat//item[2] matches the same
    # second item (gap of zero groups), so dispatch output is unchanged
    out2 = ET.fromstring(MiniXSLT(sheet.replace(
        'match="item[2]"', 'match="cat//item[2]"'))(xml))
    assert out2.find("disp").text == "+a2nd:b+c"


def test_xslt_descendant_gap_with_predicates():
    """Round-5: ``//`` and step predicates combined in one match pattern —
    backtracking over candidate ancestors at each gap, absolute anchoring,
    and predicate evaluation at the gapped upper steps."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.minixslt import MiniXSLT

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <out><xsl:apply-templates select="lib//leaf"/></out>
      </xsl:template>
      <xsl:template match="shelf[@hot='yes']//leaf">
        <l k="hot"><xsl:value-of select="@id"/></l>
      </xsl:template>
      <xsl:template match="/lib//leaf[@deep]">
        <l k="deep"><xsl:value-of select="@id"/></l>
      </xsl:template>
      <xsl:template match="leaf">
        <l k="plain"><xsl:value-of select="@id"/></l>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = """<lib>
      <shelf hot="yes"><box><leaf id="a"/></box></shelf>
      <shelf><box><leaf id="b" deep="1"/></box><leaf id="c"/></shelf>
    </lib>"""
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    got = [(l.get("k"), l.text) for l in out.findall("l")]
    # a: under the hot shelf (gap crosses box); b: absolute /lib//leaf with
    # a predicate on the leaf; c: neither pattern's predicates hold
    assert got == [("hot", "a"), ("deep", "b"), ("plain", "c")]


def test_get_spark_leaves_caller_pythonpath(spark, monkeypatch):
    """get_spark gives the package root to the Python workers only
    (``spark.executorEnv.PYTHONPATH``): the caller's PYTHONPATH, and so
    every later subprocess's, is unchanged."""
    import os
    from pathlib import Path

    from solrutils_spark.session import get_spark

    root = str(Path(__file__).resolve().parent.parent)
    # getOrCreate re-applies the builder's SQL confs to the running session
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for value in (None, "/elsewhere"):
        if value is None:
            monkeypatch.delenv("PYTHONPATH", raising=False)
        else:
            monkeypatch.setenv("PYTHONPATH", value)
        assert get_spark(shuffle_partitions=shuffle) is spark
        assert os.environ.get("PYTHONPATH") == value
    assert spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)[0] == root


def test_spark_submit_py_files(tmp_path):
    """north_rule: 'run via spark-submit --py-files on multi-executor
    clusters'. Packages the library as a zip, spark-submits
    tools/submit_job.py from OUTSIDE the repo with a builder-only session
    (no get_spark worker path), and asserts the printed contract:
    top-k returned, absent term empty, per-row sha256 invariant holds."""
    import json
    import shutil
    import subprocess
    import sys
    import zipfile
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not Path(spark_submit).exists():
        pytest.skip("spark-submit not on this host")

    zip_path = tmp_path / "solrutils_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for p in sorted((repo / "solrutils_spark").rglob("*.py")):
            zf.write(p, p.relative_to(repo))

    env = {k: v for k, v in __import__("os").environ.items()
           if k not in ("PYTHONPATH",)}  # the zip must be the ONLY source
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--py-files", str(zip_path),
         str(repo / "tools" / "submit_job.py"),
         str(tmp_path / "idx"), "800"],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["ok"] is True, out
    assert out["n_docs"] == 800
    assert out["k_returned"] == 5
    assert out["absent_returns"] == 0
    assert out["sha256_mismatches"] == 0


def test_xslt_namespaced_sources():
    """Round-5: namespace-aware name tests. Prefixed tests (``a:entry``,
    ``a:*``, ``@x:lang``) resolve through the STYLESHEET's xmlns
    declarations and match namespace-exactly (select paths, match patterns
    incl. ``//`` gaps and predicates, xsl:key); unprefixed tests stay
    namespace-agnostic (documented deviation so prefix-free mapping sheets
    keep working over default-namespaced docs); namespace-uri()/name()/
    local-name() per §4.1 with stylesheet-declared prefixes."""
    import xml.etree.ElementTree as ET

    from solrutils_spark.sources.minixslt import MiniXSLT

    sheet = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform"
        xmlns:a="http://ex.com/atom" xmlns:d="http://ex.com/dc"
        xmlns:x="http://ex.com/xml">
      <xsl:template match="/">
        <add>
          <xsl:apply-templates select="a:feed/a:entry"/>
          <n><xsl:value-of select="count(//a:feed/*)"/></n>
          <m><xsl:value-of select="count(//a:feed/a:*)"/></m>
          <k><xsl:value-of select="key('bylang', 'en')/a:title"/></k>
        </add>
      </xsl:template>
      <xsl:key name="bylang" match="a:feed//a:entry" use="@x:lang"/>
      <xsl:template match="a:entry[@x:lang='en']">
        <doc lang="{@x:lang}" uri="{namespace-uri()}" q="{name()}"
             l="{local-name()}">
          <xsl:value-of select="a:title"/>|<xsl:value-of select="d:creator"/>
        </doc>
      </xsl:template>
      <xsl:template match="a:entry">
        <skip><xsl:value-of select="title"/></skip>
      </xsl:template>
    </xsl:stylesheet>"""
    xml = """<feed xmlns="http://ex.com/atom" xmlns:dc="http://ex.com/dc"
                  xmlns:xm="http://ex.com/xml">
      <entry xm:lang="en"><title>Hello</title><dc:creator>bob</dc:creator></entry>
      <entry xm:lang="fr"><title>Salut</title><dc:creator>ann</dc:creator></entry>
      <other>not-atom</other>
    </feed>""".replace("<other>", '<other xmlns="http://ex.com/other">')
    out = ET.fromstring(MiniXSLT(sheet)(xml))
    doc = out.find("doc")
    # the en entry hits the namespace-exact predicate template; the fr one
    # falls to the unprefixed-select template (title matches any namespace)
    assert doc.get("lang") == "en"
    assert doc.get("uri") == "http://ex.com/atom"
    assert doc.get("q") == "a:entry" and doc.get("l") == "entry"
    assert (doc.text or "") + "".join(doc.itertext()) != ""
    assert "Hello|bob" in "".join(doc.itertext())
    assert out.find("skip").text == "Salut"
    # a:feed/* counts all three children; a:feed/a:* excludes the
    # other-namespace one
    assert out.find("n").text == "3"
    assert out.find("m").text == "2"
    # xsl:key with a prefixed match pattern and prefixed-attribute use
    assert out.find("k").text == "Hello"


def test_xslt_namespace_gates():
    """Undeclared prefixes and conflicting redeclarations raise loudly."""
    import pytest

    from solrutils_spark.sources.minixslt import MiniXSLT, UnsupportedXsltError

    undeclared = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><o><xsl:value-of select="b:x"/></o></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError, match="undeclared namespace"):
        MiniXSLT(undeclared)("<r><x>1</x></r>")

    main = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform"
        xmlns:p="http://one">
      <xsl:include href="other"/>
      <xsl:template match="/"><o><xsl:value-of select="p:x"/></o></xsl:template>
    </xsl:stylesheet>"""
    other = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform"
        xmlns:p="http://two">
      <xsl:template match="zzz"><z/></xsl:template>
    </xsl:stylesheet>"""
    with pytest.raises(UnsupportedXsltError, match="two URIs"):
        MiniXSLT(main, resolver=lambda href: other)


def test_lucene_syntax_fq(engine):
    """Round-5: fq bodies may render Lucene operator syntax — the reference
    renders the SAME templates into fq as into q (FilterQuery.java:11-64).
    SQL keeps first claim on the string (eager analysis, no silent
    misfilter); when SQL rejects it, the boolean executor supplies the
    match domain, including text-term filters through the index."""
    import pytest as _pytest

    from solrutils_spark.plans.model import SearchModel

    model = SearchModel({
        "query": {"op": "q", "body": "${value}"},
        "raw_fq": {"op": "fq", "filters": {"raw": {"body": "${value}"}}},
        "rows": {"op": "set", "name": "rows", "body": "${value:int}"},
    })

    def ids(fq):
        rsp = engine.search(model, {"query": "posting", "rows": 10_000.0,
                                    "raw_fq": {"raw": fq}})
        return sorted(d["doc_id"] for d in rsp["response"]["docs"])

    # Lucene metadata fq == its SQL twin (SQL body keeps working unchanged)
    assert ids("lang:py") == ids("lang = 'py'")
    assert ids("lang:py OR lang:go") == ids("lang IN ('py', 'go')")
    # text-term fq filters through the INDEX (not expressible as plain SQL
    # over the metadata columns): equals the engine's distributed filter_df
    got = ids("content:segment AND lang:py")
    want_dom = {r["doc_id"] for r in
                engine.reader.scored_domain("segment").collect()}
    sql_py = set(ids("lang = 'py'"))
    assert got and set(got) == {d for d in sql_py if d in want_dom}
    # a marker-free string SQL rejects is loud (the SQL error propagates
    # untouched — the Lucene attempt only engages on Lucene operator syntax)
    with _pytest.raises(Exception):
        engine.search(model, {"query": "posting", "rows": 5.0,
                              "raw_fq": {"raw": "nonexistent_column = 1"}})


def test_lucene_syntax_facet_query(engine):
    """Round-5: facet.query and json.facet query bodies are Lucene queries
    in Solr — SQL-expressible specs keep the one-pass conditional-count
    path; Lucene-syntax specs count a boolean-executor match domain."""
    from solrutils_spark.operators.facets import json_facet, query_facets

    domain = engine.collection
    got = query_facets(
        domain,
        ["{!key=py}lang = 'py'",            # SQL (one-pass agg)
         "{!key=seg}content:segment AND lang:py",  # Lucene via the index
         "{!key=either}lang:py OR lang:go"],
        reader=engine.reader,
    )
    n_py = domain.filter("lang = 'py'").count()
    seg_ids = {r["doc_id"] for r in
               engine.reader.scored_domain("segment").collect()}
    n_seg_py = domain.filter("lang = 'py'").filter(
        F.col("doc_id").isin(list(seg_ids))).count()
    n_either = domain.filter("lang in ('py','go')").count()
    assert got == {"py": n_py, "seg": n_seg_py, "either": n_either}
    assert list(got) == ["py", "seg", "either"]  # request order echoed

    jf = json_facet(
        domain,
        {"seg_docs": {"type": "query", "q": "content:segment AND lang:py",
                      "facet": {"n": "count(doc_id)"}}},
        reader=engine.reader,
    )
    assert jf["seg_docs"]["count"] == n_seg_py


def test_pure_negative_fq_matches_all_minus_matches(engine):
    """r5 ADVICE (medium): Solr treats a TOP-LEVEL pure-negative q/fq
    (``-lang:py``) as match-all minus the matches; boolean_scored's
    no-positive-clause None must NOT silently become the empty domain."""
    from solrutils_spark.plans.model import SearchModel

    model = SearchModel({
        "query": {"op": "q", "body": "${value}"},
        "raw_fq": {"op": "fq", "filters": {"raw": {"body": "${value}"}}},
        "rows": {"op": "set", "name": "rows", "body": "${value:int}"},
    })

    def ids(fq):
        rsp = engine.search(model, {"query": "posting", "rows": 10_000.0,
                                    "raw_fq": {"raw": fq}})
        return sorted(d["doc_id"] for d in rsp["response"]["docs"])

    base = ids("lang:py OR lang:go OR lang:js OR lang:rs OR lang:java")
    got = ids("-lang:py")
    py = set(ids("lang:py"))  # one request, not one per element of base
    want = [d for d in base if d not in py]
    assert got == want and got  # nearly-everything, not nothing
    # two negatives: minus the union
    got2 = ids("-lang:py -lang:go")
    py_go = set(ids("lang:py OR lang:go"))
    want2 = [d for d in base if d not in py_go]
    assert got2 == want2
    # facet.query twin routes through the same rewrite
    from solrutils_spark.operators.facets import query_facets

    counts = query_facets(engine.collection, ["{!key=notpy}-lang:py"],
                          reader=engine.reader)
    assert counts["notpy"] == engine.collection.filter("lang != 'py'").count()


def test_lucene_fq_failure_chains_sql_error(engine):
    """r5 ADVICE (low): when SQL rejects an fq and the boolean executor
    also rejects it, the raised error must chain the SQL rejection
    (__cause__), so both diagnoses surface."""
    import pytest as _pytest

    from solrutils_spark.plans.model import SearchModel

    model = SearchModel({
        "query": {"op": "q", "body": "${value}"},
        "raw_fq": {"op": "fq", "filters": {"raw": {"body": "${value}"}}},
    })
    with _pytest.raises(Exception) as ei:
        engine.search(model, {"query": "posting",
                              "raw_fq": {"raw": 'lang:(py AND'}})
    assert ei.value.__cause__ is not None  # the SQL rejection is chained
