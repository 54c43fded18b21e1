"""Catalyst-native span scrubbing — the JVM rendering of
kernel/scrub.py (semantics fixed there: sort (start asc, end desc),
drop overlaps, replace kept spans with ``<TYPE>``), byte-identical by
the parity tests.

Off the pipeline path: QualityPipeline scrubs in Python inside its one
Arrow UDF (operators/detect.make_fused_udf), where the text already is;
this fold of array higher-order functions runs interpreted, outside
whole-stage codegen. It is kept for direct use on a table that already
holds (text, entity spans), and for perfbench's per-layer probe.
"""

from pyspark.sql import Column, functions as F


def scrub_expr(text_col, entities_col) -> Column:
    """``scrub_text(text, [(e.start, e.end, e.type)])`` as one native
    expression over the detect stage's entity array. Both args accept
    a column name or a Column (e.g. a struct field).

    Replication detail vs kernel/scrub.py: Python's ``sorted`` is
    stable, so spans tying on (start, -end) keep their list order —
    the sort key here includes the original array index to reproduce
    that (a lexicographic struct sort would otherwise tie-break by
    type name)."""
    if isinstance(text_col, str):
        text_col = F.col(text_col)
    if isinstance(entities_col, str):
        entities_col = F.col(entities_col)
    text = F.coalesce(text_col, F.lit(""))
    spans = F.transform(
        entities_col,
        lambda e, i: F.struct(
            e["start"].cast("long").alias("s"),
            (-e["end"].cast("long")).alias("negend"),
            i.cast("long").alias("i"),
            e["end"].cast("long").alias("e"),
            # a NULL type would NULL-poison the concat fold and wipe
            # the whole document's scrubbed text — render it as an
            # empty placeholder ('<>') instead
            F.coalesce(e["type"], F.lit("")).alias("t")))
    # a span with NULL offsets cannot be placed: drop IT, not the doc
    # (the fold's substr arithmetic would otherwise NULL the output;
    # the Python kernel would raise on such a span — either way a
    # silent whole-document wipe is the one unacceptable rendering)
    spans = F.filter(spans, lambda x: x["s"].isNotNull()
                     & x["e"].isNotNull())
    # NULL entity array (no detect ran) scrubs to the text unchanged
    spans = F.coalesce(spans, F.array().cast(
        "array<struct<s:bigint,negend:bigint,i:bigint,"
        "e:bigint,t:string>>"))
    ordered = F.array_sort(spans)

    kept_t = "array<struct<s:bigint,e:bigint,t:string>>"
    resolved = F.aggregate(
        ordered,
        F.struct(F.array().cast(kept_t).alias("kept"),
                 F.lit(-1).cast("long").alias("last")),
        lambda acc, x: F.struct(
            F.when(x["s"] >= acc["last"],
                   F.concat(acc["kept"],
                            F.array(F.struct(x["s"].alias("s"),
                                             x["e"].alias("e"),
                                             x["t"].alias("t")))))
             .otherwise(acc["kept"]).alias("kept"),
            F.when(x["s"] >= acc["last"], x["e"])
             .otherwise(acc["last"]).alias("last")),
    )["kept"]

    return F.aggregate(
        resolved,
        F.struct(F.lit("").alias("out"),
                 F.lit(0).cast("long").alias("prev")),
        lambda acc, x: F.struct(
            F.concat(acc["out"],
                     F.substr(text, acc["prev"] + 1, x["s"] - acc["prev"]),
                     F.lit("<"), x["t"], F.lit(">")).alias("out"),
            x["e"].alias("prev")),
        lambda acc: F.concat(
            acc["out"],
            F.substr(text, acc["prev"] + 1,
                     F.length(text) - acc["prev"])))
