"""Physical-plan assertions (SURVEY.md §4): the scale properties the
engine is designed around must be visible in `explain("formatted")` —
pushdown to the scan, broadcast joins for dimensions, WholeStageCodegen
for native stages, exactly one Arrow crossing in the pipeline, shipping
only the columns it needs."""

from pyspark.sql import functions as F

from pii_extract_base_spark.plans import (
    formatted_plan, count_nodes, scan_read_schemas, pushed_filters,
    arrow_eval_inputs)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_and_column_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (li.where(F.col("l_shipdate") <= "1998-09-02")
           .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")))
    plan = formatted_plan(q)
    pf = pushed_filters(plan)
    assert any("l_shipdate" in f for f in pf), pf
    schemas = scan_read_schemas(plan)
    # projection pruning: only the 3 referenced columns are scanned
    assert schemas and all(len(s.split(",")) == 3 for s in schemas), schemas
    # vectorized scan + map-side partial aggregation
    assert count_nodes(plan, "Batched: true") >= 1
    assert count_nodes(plan, "partial_sum") >= 1


def test_dimension_joins_broadcast(spark):
    import __spark_entry__ as mod
    plan = formatted_plan(mod.q03_nation_revenue(spark, SF_DIR))
    assert count_nodes(plan, "BroadcastHashJoin") >= 2, plan[:800]


def test_semi_and_anti_joins(spark):
    import __spark_entry__ as mod
    assert count_nodes(
        formatted_plan(mod.q09_exists_big_lineitem(spark, SF_DIR)),
        "LeftSemi") >= 1
    assert count_nodes(
        formatted_plan(mod.q05_customers_no_orders(spark, SF_DIR)),
        "LeftAnti") >= 1


def test_ivf_broadcasts_centroids(spark):
    from pii_extract_base_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=3)
    assert count_nodes(formatted_plan(q), "BroadcastHashJoin") >= 1


def test_pipeline_single_arrow_crossing(spark):
    """The pipeline: exactly ONE ArrowEvalPython stage, shipping only
    (text, lang, url) — never html/warc_ts (column pruning into the
    UDF input)."""
    from pii_extract_base_spark.pipeline import QualityPipeline
    from pii_extract_base_spark.sources.pages import synth_pages
    out = QualityPipeline()(synth_pages(spark, SF_DIR))
    plan = formatted_plan(out)
    inputs = arrow_eval_inputs(plan)
    assert len(inputs) == 1, plan[:800]
    # `html` is referenced nowhere downstream → pruned before the UDF
    # stage entirely (warc_ts legitimately passes through: the output
    # schema carries it, but it is not a UDF argument)
    flat = {c for cols in inputs for c in cols}
    assert "html" not in flat, inputs
    # rules and scrub run inside that one UDF: neither the native
    # rules' stopword intersection nor the scrub fold is in the plan
    assert count_nodes(plan, "array_intersect") == 0, plan[:800]
    assert count_nodes(plan, r"aggregate\(") == 0, plan[:800]
    # keep/reasons are decided inside it too: no native decision
    assert count_nodes(plan, "lang_mismatch") == 0, plan[:800]


def test_pipeline_spreads_by_url_hash(spark):
    """salt_partitions=N is one Exchange, Spark's hash of the url into
    N partitions, with no salt column projected before the UDF."""
    from pii_extract_base_spark.pipeline import QualityPipeline
    from pii_extract_base_spark.sources.pages import synth_pages
    plan = formatted_plan(
        QualityPipeline(salt_partitions=8)(synth_pages(spark, SF_DIR)))
    assert count_nodes(plan, r"\(\d+\) Exchange\n") == 1, plan[:800]
    assert count_nodes(
        plan, r"Arguments: hashpartitioning\(url#\d+, 8\)") == 1, plan
    assert len(arrow_eval_inputs(plan)) == 1, plan[:800]
    assert count_nodes(plan, r"pmod\(xxhash64") == 0, plan[:800]


def test_textstats_native_no_python(spark):
    import __spark_entry__ as mod
    plan = formatted_plan(mod.q10_token_stats(spark, SF_DIR))
    assert count_nodes(plan, "ArrowEvalPython|BatchEvalPython") == 0
    assert count_nodes(plan, "Batched: true") >= 1


def test_near_dup_lsh_no_cartesian(spark):
    """q17's verified path is the bucketed plan: candidate generation
    is an equi-join on (table, bucket) — no CartesianProduct /
    BroadcastNestedLoopJoin anywhere in the plan."""
    import __spark_entry__ as mod
    plan = formatted_plan(mod.q17_embedding_near_dups(spark, SF_DIR))
    assert count_nodes(plan, "CartesianProduct|BroadcastNestedLoop") == 0, \
        plan[:800]
    assert count_nodes(plan, "SortMergeJoin|BroadcastHashJoin|"
                             "ShuffledHashJoin") >= 1


def test_lsh_bucket_knn_no_cartesian(spark):
    import __spark_entry__ as mod
    plan = formatted_plan(mod.q33_lsh_bucket_knn(spark, SF_DIR))
    assert count_nodes(plan, "CartesianProduct") == 0, plan[:800]


def test_simhash_single_projection(spark):
    """One-pass simhash: the plan is a single Project over the scan
    (one aggregate traversal), not `bits` stacked aggregates."""
    import __spark_entry__ as mod
    plan = formatted_plan(mod.q23_simhash(spark, SF_DIR))
    assert count_nodes(plan, "ArrowEvalPython|BatchEvalPython") == 0
    assert count_nodes(plan, "HashAggregate|SortAggregate|"
                             "ObjectHashAggregate") == 0, plan[:800]
