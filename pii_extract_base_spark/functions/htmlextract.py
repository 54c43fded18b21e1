"""HTML -> text extraction as a pure relational expression chain.

The north rule's input is an Iceberg table of Common-Crawl-style pages
with an ``html:binary`` column, and its per-row invariant is
*byte-identical extracted text per url*.  This module implements the
extraction stage as a chain of native ``regexp_replace`` / ``replace``
expressions — whole-stage-codegen JVM work, zero Python crossings —
so at 100 TB the text-extraction pass is just another projected column
inside the page scan, pruned and pushed down like any other.

Pipeline (order matters and is part of the contract):

  1. strip ``<!-- comments -->``         (dotall, non-greedy)
  2. strip ``<script ...>...</script>``  (case-insensitive, dotall)
  3. strip ``<style ...>...</style>``
  4. every remaining tag ``<...>`` -> single space
  5. decode the common HTML entities; ``&amp;`` strictly LAST so that
     double-escaped text (``&amp;lt;``) decodes one level only
  6. collapse whitespace runs to one space, trim

Entity decode after tag-strip is deliberate: escaped markup in the
source text (``&lt;end&gt;``) must survive as literal text, never be
re-parsed as a tag.

Cross-engine notes (the DuckDB oracle must replay bit-for-bit):
  * identical pattern strings run on Java regex (Spark) and RE2
    (DuckDB): inline flags ``(?is)``, non-greedy ``.*?``, and character
    classes used here behave identically on both engines; no
    backreferences (RE2 has none), DuckDB gets the extra ``'g'`` flag
    (Spark's regexp_replace is global by default).
  * ``\\s`` differs at the margin (Java adds \\x0B, neither matches
    U+00A0); ``&nbsp;`` is therefore decoded to a plain space *before*
    the collapse step.

Reference anchor: the reference consumes pre-extracted text
(pii-data SrcDocument chunks — reference api/file.py:105); extraction
is a north-star stage (BASELINE.json input_hint), not a port.
"""

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (pattern, replacement) regex passes, applied in order.  Shared,
# single source of truth for the Spark chain and the DuckDB rendering.
REGEX_PASSES: List[Tuple[str, str]] = [
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"<[^>]+>", " "),
]

# plain-string entity decodes, applied in order (&amp; LAST).
ENTITY_PASSES: List[Tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&copy;", "©"),
    ("&amp;", "&"),
]

_WS = (r"\s+", " ")


def html_to_text(col: Column) -> Column:
    """Extracted text from an HTML *string* column (native chain)."""
    out = col
    for pat, rep in REGEX_PASSES:
        out = F.regexp_replace(out, pat, rep)
    for a, b in ENTITY_PASSES:
        out = F.replace(out, F.lit(a), F.lit(b))
    return F.trim(F.regexp_replace(out, *_WS))


def backfill_text_from_html(df):
    """Ingestion backfill, run by `run_pipeline --from-html` before its
    curation stages and the pipeline: rows whose text IS NULL get the
    native HTML->text chain over the binary ``html`` column (codegen,
    no UDF). BACKFILL ONLY — extraction collapses whitespace, and the
    Gopher line-ratio rules need the source text's line structure, so
    non-NULL text is never rewritten. No-op when ``html`` is absent."""
    if "html" not in df.columns:
        return df
    return df.withColumn(
        "text",
        F.coalesce(F.col("text"),
                   html_to_text(F.decode(F.col("html"), "UTF-8"))))


def html_to_text_sql(expr: str) -> str:
    """The SAME chain rendered as DuckDB SQL over ``expr``.

    Generated from the shared pass tables above so the two renderings
    cannot drift.  Patterns carry no single quotes or backslash
    escapes beyond ``\\s`` (literal in DuckDB standard strings).
    """
    def q(s: str) -> str:            # SQL string literal quoting
        return s.replace("'", "''")
    out = expr
    for pat, rep in REGEX_PASSES:
        out = f"regexp_replace({out}, '{q(pat)}', '{q(rep)}', 'g')"
    for a, b in ENTITY_PASSES:
        out = f"replace({out}, '{q(a)}', '{q(b)}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


# anchor hrefs (double-quoted, the form the renderer emits); group 1
LINK_RE = r'<a[^>]*\shref="([^"]+)"'
# host part of an absolute scheme://host/... url; group 1
HOST_RE = r"^[a-z]+://([^/]+)"


def extract_links(col: Column) -> Column:
    """array<string> of anchor hrefs in an HTML string column."""
    return F.regexp_extract_all(col, F.lit(LINK_RE), 1)


def extract_links_sql(expr: str) -> str:
    return f"regexp_extract_all({expr}, '{LINK_RE}', 1)"


def host_of(col: Column) -> Column:
    """Host part of an absolute URL column ('' when not absolute)."""
    return F.regexp_extract(col, HOST_RE, 1)


def host_of_sql(expr: str) -> str:
    return f"regexp_extract({expr}, '{HOST_RE}', 1)"


def extract_pages(df: DataFrame, html_col: str = "html",
                  out_col: str = "extracted_text") -> DataFrame:
    """Extraction stage over the pages table (``html`` is binary).

    ``decode(html, 'UTF-8')`` -> chain; stays inside the page scan's
    projection (one codegen stage, no shuffle, no UDF).
    """
    return df.withColumn(
        out_col, html_to_text(F.decode(F.col(html_col), "UTF-8")))


# ---------------------------------------------------------------------------
# Deterministic HTML renderer (test/bench harness only).
#
# The driver's parquet corpus has no html column, so q64 manufactures
# one *inside the plan* from (doc_id, text): escaped text wrapped in a
# head (title/script/style), comments, attributes, and entity-bearing
# boilerplate.  Both engines build the identical string, so extraction
# is verified end-to-end (construction noise must vanish, escaped
# markup must survive as text).
# ---------------------------------------------------------------------------

def render_html(doc_id: Column, text: Column) -> Column:
    """Synthetic page HTML as a Spark expression (ASCII, deterministic)."""
    esc = F.replace(text, F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    sid = doc_id.cast("string")
    cls = (doc_id % 7).cast("string")
    return F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Doc "), sid,
        F.lit("</title><script type=\"text/javascript\">var id="), sid,
        F.lit("; if (id &lt; 0) { id = 0; }</script><style>.c"), cls,
        F.lit(" { color: #333; }</style></head><body><!-- render "), sid,
        F.lit(" --><h1 class=\"hd\">Doc "), sid,
        F.lit("</h1><p class=\"main\">"), esc,
        F.lit("</p><ul class=\"nav\">"),
        # deterministic outlinks -> the q65/q66 host link graph
        F.lit("<a href=\"https://site"),
        ((doc_id * 7 + 13) % 97).cast("string"),
        F.lit(".example/p1\">more 1</a>"),
        F.lit("<a href=\"https://site"),
        ((doc_id * 7 + 26) % 97).cast("string"),
        F.lit(".example/p2\">more 2</a>"),
        F.lit("<a href=\"https://site"),
        ((doc_id * 7 + 39) % 97).cast("string"),
        F.lit(".example/p3\">more 3</a>"),
        F.lit("</ul><div id=\"ft\">&quot;fin&quot; &amp;"
              "&nbsp;&copy; 2024 &lt;end&gt;</div></body></html>"),
    )


def render_html_sql(doc_id: str, text: str) -> str:
    """The SAME renderer as DuckDB SQL (|| concatenation)."""
    esc = (f"replace(replace(replace({text}, '&', '&amp;'),"
           f" '<', '&lt;'), '>', '&gt;')")
    sid = f"({doc_id})::VARCHAR"
    cls = f"(({doc_id}) % 7)::VARCHAR"
    return (
        f"'<!DOCTYPE html><html><head><title>Doc ' || {sid} || "
        f"'</title><script type=\"text/javascript\">var id=' || {sid} || "
        f"'; if (id &lt; 0) {{ id = 0; }}</script><style>.c' || {cls} || "
        f"' {{ color: #333; }}</style></head><body><!-- render ' || {sid} || "
        f"' --><h1 class=\"hd\">Doc ' || {sid} || "
        f"'</h1><p class=\"main\">' || {esc} || "
        f"'</p><ul class=\"nav\">' || "
        f"'<a href=\"https://site' || ((({doc_id}) * 7 + 13) % 97)::VARCHAR"
        f" || '.example/p1\">more 1</a>' || "
        f"'<a href=\"https://site' || ((({doc_id}) * 7 + 26) % 97)::VARCHAR"
        f" || '.example/p2\">more 2</a>' || "
        f"'<a href=\"https://site' || ((({doc_id}) * 7 + 39) % 97)::VARCHAR"
        f" || '.example/p3\">more 3</a>' || "
        f"'</ul><div id=\"ft\">&quot;fin&quot; &amp;"
        f"&nbsp;&copy; 2024 &lt;end&gt;</div></body></html>'"
    )
