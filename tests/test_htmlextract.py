"""HTML -> text extraction (functions/htmlextract).

The north rule's per-row invariant is byte-identical extracted text
per url over a pages table with html:binary.  The extraction contract
here: extracted == whitespace-normalized source text (" ".join(split)),
byte-for-byte — pinned against the synthetic pages corpus, against
hand-built edge-case pages, and against the DuckDB SQL rendering of
the same chain (the q64 oracle path).
"""

import pytest

from pyspark.sql import functions as F

from pii_extract_base_spark.functions.htmlextract import (
    backfill_text_from_html, extract_pages, html_to_text, html_to_text_sql)
from pii_extract_base_spark.sources.pages import synth_pages

from .conftest import SF_DIR

EDGE_PAGES = [
    # (html, expected extracted text)
    ("<html><body>plain words here</body></html>", "plain words here"),
    # comment stripped, dotall across newlines
    ("<p>a<!-- multi\nline\ncomment -->b</p>", "a b"),
    # script/style bodies vanish wholesale, case-insensitive
    ("<SCRIPT>var x = '<p>not text</p>';</SCRIPT>keep", "keep"),
    ("<style type=\"x\">.c { color: red; }</style>kept", "kept"),
    # attributes with quotes/angle-ish content inside the tag
    ('<a href="https://e.x/?q=1&amp;r=2" title="t">link</a>', "link"),
    # entity decode AFTER tag strip: escaped markup survives as text
    ("<p>&lt;end&gt; &quot;q&quot; &#39;a&#39; &apos;b&apos;</p>",
     "<end> \"q\" 'a' 'b'"),
    # &amp; decodes exactly one level, last
    ("<p>&amp;lt;still-escaped&amp;gt;</p>", "&lt;still-escaped&gt;"),
    # &nbsp; becomes plain space and collapses with neighbors
    ("<p>a&nbsp; &nbsp;b</p>", "a b"),
    # whitespace runs (newlines, tabs) collapse; trim both ends
    ("  <div>\n\ta \n\n b\t</div>  ", "a b"),
    # empty page
    ("<html><head><title>t</title></head><body></body></html>", "t"),
]


def test_edge_pages_exact(spark):
    df = spark.createDataFrame(
        [(i, h.encode("utf-8")) for i, (h, _) in enumerate(EDGE_PAGES)],
        "i long, html binary")
    got = {r["i"]: r["t"] for r in
           df.select("i", html_to_text(F.decode("html", "UTF-8"))
                     .alias("t")).collect()}
    for i, (_, want) in enumerate(EDGE_PAGES):
        assert got[i] == want, (i, got[i], want)


def test_pages_corpus_byte_identical(spark):
    """Per-url invariant over the synthetic Common-Crawl-style corpus:
    extracted text == whitespace-normalized source text, byte-equal."""
    pages = synth_pages(spark, SF_DIR).limit(60)
    rows = (extract_pages(pages)
            .select("url", "text", "extracted_text").collect())
    assert rows
    for r in rows:
        want = " ".join(r["text"].split())
        assert r["extracted_text"] == want, r["url"]


def test_sql_rendering_parity(spark):
    """The DuckDB rendering of the chain (q64's oracle) produces the
    identical bytes for every edge page."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    sql = html_to_text_sql("h")
    for html, want in EDGE_PAGES:
        got = con.execute(f"SELECT {sql} FROM (SELECT ? AS h)",
                          [html]).fetchone()[0]
        assert got == want, (html, got, want)


def test_pipeline_from_html_backfill(spark):
    """backfill_text_from_html, then the pipeline: rows with NULL text
    get the extracted html text; rows with text keep it untouched."""
    from pii_extract_base_spark.pipeline import QualityPipeline
    pages = synth_pages(spark, SF_DIR).limit(20)
    nulled = pages.withColumn(
        "text", F.when(F.crc32("url") % 2 == 0, F.col("text")))
    out = QualityPipeline(("en",))(backfill_text_from_html(nulled))
    rows = out.select("url", "text").collect()
    src = {r["url"]: r["text"] for r in pages.collect()}
    n_backfilled = 0
    for r in rows:
        assert r["text"] is not None
        want_src = src[r["url"]]
        if r["text"] == want_src:
            continue
        n_backfilled += 1
        assert r["text"] == " ".join(want_src.split())
    assert n_backfilled > 0


def test_extract_links_and_hosts(spark):
    """Anchor extraction off the rendered page yields exactly the three
    deterministic outlink hosts; host parse handles the edge forms."""
    from pii_extract_base_spark.functions.htmlextract import (
        extract_links, host_of, render_html)
    df = spark.createDataFrame([(5, "hello world")], "doc_id long, t string")
    row = df.select(
        extract_links(render_html(F.col("doc_id"), F.col("t")))
        .alias("links")).collect()[0]
    want = [f"https://site{(5 * 7 + j * 13) % 97}.example/p{j}"
            for j in (1, 2, 3)]
    assert row["links"] == want
    hosts = spark.createDataFrame(
        [("https://a.b/x",), ("http://h/",), ("ftp://f.q/z",),
         ("/relative/path",), ("mailto:x@y",)], "u string")
    got = [r[0] for r in hosts.select(host_of(F.col("u"))).collect()]
    assert got == ["a.b", "h", "f.q", "", ""]


def test_extraction_plan_is_native(spark):
    """The chain must stay JVM-side: no Python eval node, and the
    expressions live inside the scan's projection (one codegen stage —
    at 100 TB extraction is a free column, not a separate pass)."""
    pages = synth_pages(spark, SF_DIR)
    plan = (extract_pages(pages)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
