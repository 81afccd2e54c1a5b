"""Physical-plan quality gates: the optimizations we claim must show up
in .explain output (pushdown, pruning, broadcast, codegen)."""

import pytest
from pyspark.sql import functions as F

from ffp_spark.udfs import parse_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SF_DIR = "/root/testdata/sf0.01"


def test_parse_scan_prunes_columns(spark, tmp_path):
    # PAGES has 5 columns; the parse stage must scan only what it feeds
    from ffp_spark.datagen import synth_pages

    synth_pages(spark, 50).write.mode("overwrite").parquet(str(tmp_path / "p"))
    pages = spark.read.parquet(str(tmp_path / "p"))
    plan = _plan(parse_pages(pages.select("url", "html")))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "text" not in read_schema[0] and "lang" not in read_schema[0]


def test_filter_pushdown_reaches_parquet(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter("doc_id < 100")
    plan = _plan(docs.select("doc_id"))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan or (
        "LessThan(doc_id,100)" in plan
    ), plan


def test_dim_join_uses_broadcast(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["dim_join_rollup"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_agg_is_whole_stage_codegen_with_partial_agg(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["agg_pricing"](spark, SF_DIR)
    df.collect()  # finalize the AQE plan so codegen spans are visible
    plan = _plan(df)
    # codegen spans print as "*(n)" in the plan string
    assert "WholeStageCodegen" in plan or "*(1)" in plan, plan
    # map-side combine: a partial HashAggregate before the shuffle
    assert "partial_sum" in plan and plan.count("HashAggregate") >= 2, plan


def test_triples_single_python_stage(spark, tmp_path):
    # the union-free triple emitter must contain exactly ONE Python stage
    from ffp_spark.datagen import synth_pages
    from ffp_spark.triples import emit_triples

    synth_pages(spark, 50).write.mode("overwrite").parquet(str(tmp_path / "p2"))
    pages = spark.read.parquet(str(tmp_path / "p2"))
    plan = _plan(emit_triples(parse_pages(pages)))
    assert plan.count("MapInArrow") == 1, plan


def test_salted_join_broadcasts_small_side(spark):
    # the canonical author dictionary is the broadcast side of the
    # author-edge join; the mention (probe) side is never shuffled.
    # (The name predates the plain broadcast that replaced the salted join.)
    from ffp_spark.datagen import synth_pages
    from ffp_spark.pipeline import link_and_canonicalize, materialize_graph

    parsed = parse_pages(synth_pages(spark, 40))
    canon = link_and_canonicalize(parsed)
    try:
        _, _, edges = materialize_graph(parsed, canon, snapshot_id=1, n_parts=4)
        plan = _plan(edges)
    finally:
        canon.unpersist()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lang_scoring_shuffles_counts_not_characters(spark):
    # per-doc bigram counts partial-aggregate map-side BEFORE any
    # exchange: shuffled rows ∝ distinct (doc, bigram), not characters
    from ffp_spark.textops import doc_bigram_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(doc_bigram_counts(docs))
    assert "partial_count" in plan and plan.count("HashAggregate") >= 2, plan


def test_snapshot_commit_writes_without_rescan(spark, tmp_path):
    # the commit plan carries the observe metric collector; no second
    # parquet scan appears anywhere in the committed table's lineage
    from ffp_spark.snapshots import write_snapshot

    sc = spark.sparkContext
    df = spark.range(500).withColumn("k", F.col("id") % 5)
    sc.setJobGroup("plan-ws", "commit single scan")
    try:
        write_snapshot(df, tmp_path, "t", snapshot_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("plan-ws")) == 1


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    # catalog bucketing co-locates join keys: the subj-keyed self-join
    # and the subj aggregation read matching buckets with NO shuffle
    from ffp_spark.snapshots import write_bucketed_table

    t = spark.range(10_000).selectExpr(
        "concat('s', id % 500) AS subj", "concat('o', id) AS obj"
    )
    write_bucketed_table(t, "tb_a", tmp_path / "tb_a", "subj", n_buckets=8)
    write_bucketed_table(t, "tb_b", tmp_path / "tb_b", "subj", n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("tb_a").join(spark.table("tb_b"), "subj")
        joined.collect()
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        agg = spark.table("tb_a").groupBy("subj").count()
        agg.collect()
        assert "Exchange" not in _plan(agg), _plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS tb_a")
        spark.sql("DROP TABLE IF EXISTS tb_b")


def test_ivf_assignment_is_projection_only(spark):
    # IVF cell assignment inlines the collected centroid table as literal
    # arrays: the assignment plan must contain NO join and NO exchange
    # (the old crossJoin+groupBy shape shuffled the full vector corpus
    # once per index build).
    from ffp_spark.ann import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter("vec_id <> 0")
    cent = ivf_centroids(emb, n_cells=4)
    assigned = ivf_assign(emb, cent)
    plan = _plan(assigned)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_decontamination_broadcasts_benchmark_grams(spark):
    # The eval-slice gram set is benchmark-sized vs the corpus: the
    # anti-contamination join must broadcast it into the training-gram
    # stream, never sort-merge two corpus-sized sides.
    import __spark_entry__ as em

    df = em.queries()["decontaminate_ngram_overlap"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_cap_uses_window_group_limit(spark):
    # The per-source top-k cap filters on row_number() <= k, which Spark
    # must rewrite to WindowGroupLimit: each partition keeps a k-sized
    # heap per group instead of fully sorting every group — the plan
    # that survives a 100x fan-out per source.
    import __spark_entry__ as em

    df = em.queries()["source_capped_sample"](spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_entity_resolution_broadcasts_dictionary_no_nested_loop(spark):
    # Both blocking joins hit the (tiny) entity dictionary — broadcast —
    # and nothing in the plan degenerates to a nested loop product.
    import __spark_entry__ as em

    df = em.queries()["entity_resolution"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_capture_delta_is_one_join_no_window(spark):
    # The CDX diff must stay one co-partitioned full outer join + a
    # codegen CASE: no window (no per-key sort), no nested loop, and
    # exactly one join even at two-capture web scale.
    from ffp_spark.frontier import capture_delta

    old = spark.range(1000).selectExpr(
        "concat('u', id) AS url", "md5(CAST(id AS STRING)) AS digest"
    )
    new = spark.range(500, 1500).selectExpr(
        "concat('u', id) AS url", "md5(CAST(id + 7 AS STRING)) AS digest"
    )
    plan = _plan(capture_delta(old, new))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_resolve_redirects_join_count_is_hop_budget(spark):
    # Each hop is ONE equi-join on the cursor; the barrier count is the
    # fixed max_hops constant (plus the final still-redirecting probe),
    # never data-dependent.
    from ffp_spark.frontier import resolve_redirects

    caps = spark.range(100).selectExpr(
        "concat('u', id) AS url",
        "CASE WHEN id % 3 = 1 THEN 301 ELSE 200 END AS http_status",
        "CASE WHEN id % 3 = 1 THEN concat('u', id - 1) END AS location",
    )
    plan = _plan(resolve_redirects(caps, max_hops=3))
    joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    )
    assert joins == 4, plan  # 3 hops + 1 resolved-probe
    assert "CartesianProduct" not in plan, plan


def test_bucketed_captures_diff_without_exchange(spark, tmp_path):
    # the CDX diff's 100 TB claim: two capture generations bucketed on
    # the url key full-outer-join with NO shuffle (capture_delta's
    # docstring promise, verified against the executed plan)
    from ffp_spark.frontier import capture_delta
    from ffp_spark.snapshots import write_bucketed_table

    url = "concat('https://h', id % 97, '.example/p/', id) AS url"
    old_caps = spark.range(0, 2_000).selectExpr(
        url, "concat('sha1:', id % 37) AS digest"
    )
    new_caps = spark.range(500, 2_500).selectExpr(
        url,
        "concat('sha1:', CASE WHEN id % 5 = 0 THEN (id + 1) % 37"
        " ELSE id % 37 END) AS digest",
    )
    write_bucketed_table(old_caps, "cap_old", tmp_path / "cap_old", "url", n_buckets=8)
    write_bucketed_table(new_caps, "cap_new", tmp_path / "cap_new", "url", n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        d = capture_delta(spark.table("cap_old"), spark.table("cap_new"))
        counts = {r.status: r.n for r in d.groupBy("status").agg(
            F.count("*").alias("n")).collect()}
        assert set(counts) == {"added", "removed", "changed", "unchanged"}
        plan = _plan(d)
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS cap_old")
        spark.sql("DROP TABLE IF EXISTS cap_new")
