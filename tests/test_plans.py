"""Physical-plan audits: the optimizations we claim must be visible in
.explain() output — filter pushdown to the parquet scan, broadcast
joins for dictionary/candidate tables, no Python eval in JVM-only
operators, partial aggregation, no row-level cartesian products."""

from pyspark.sql import functions as F

from pikes_spark.plans.audit import (explain_formatted,
                                     assert_broadcast_join,
                                     assert_no_cartesian,
                                     assert_no_python_eval,
                                     assert_partial_aggregation,
                                     assert_pushed_filter,
                                     assert_read_schema)

SF = "/root/testdata/sf0.001"


def test_lang_filter_pushes_to_parquet_scan(spark):
    from pikes_spark.sources.pages import pages_from_documents
    pages = pages_from_documents(spark, SF).filter(F.col("lang") == "en")
    assert_pushed_filter(pages, "[IsNotNull(lang), EqualTo(lang,en)]")


def test_textstats_have_no_python_eval(spark):
    from pikes_spark.operators.textstats import (
        fingerprints, lang_id, quality_scores, token_counts)
    for fn in (token_counts, lang_id, quality_scores, fingerprints):
        assert_no_python_eval(fn(spark, SF))


def test_linking_join_is_broadcast(spark):
    from pikes_spark.sources.pages import pages_from_documents
    from pikes_spark.operators.annotate import annotate_pages
    from pikes_spark.operators.linking import candidates_df, link_entities
    links = link_entities(annotate_pages(pages_from_documents(spark, SF)),
                          candidates_df(spark))
    assert_broadcast_join(links)


def test_relational_agg_is_partial(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    assert_partial_aggregation(agg)


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    assert_read_schema(li, "struct<l_orderkey:bigint>")


def test_dedup_pair_operators_have_no_cartesian(spark):
    # embedding_neardup_pairs intentionally carries a tiny
    # BroadcastNestedLoopJoin over BLOCK ids (not rows) — its own plan
    # test in test_operators_spark asserts the row-level guarantee
    from pikes_spark.operators.dedup import (minhash_lsh_pairs,
                                             simhash_pairs)
    for fn in (minhash_lsh_pairs, simhash_pairs):
        assert_no_cartesian(fn(spark, SF))


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns and rows is not None
    assert set(["subject", "predicate", "object"]) <= set(df.columns)


def _j4_triples(spark):
    rows = [
        ("u", "e:a", "http://www.w3.org/2002/07/owl#sameAs", "e:b", "", "sameas"),
        ("u", "e:a", "p", "o1", "g1", "edge"),
        ("u", "e:b", "p", "o2", "g2", "edge"),
        ("u", "comp:1", "http://dkm.fbk.eu/ontologies/knowledgestore#include",
         "e:a", "", "edge"),
        ("u", "comp:1", "q", "o3", "g3", "edge"),
    ]
    return spark.createDataFrame(
        rows, "url string, subject string, predicate string, object string, "
              "graph string, component string")


def test_canonicalize_single_shuffle(spark):
    """J4 scale guard: the canonicalize output plan carries exactly ONE
    shuffle (the final merge-dedupe) — composite dissolution is
    broadcast+explode (narrow) and the canonical-map rewrites are
    broadcast joins. A second Exchange here is the regression that made
    J4 the non-scaling stage in round 3."""
    from pikes_spark.operators.canonicalize import canonicalize_triples
    df = _j4_triples(spark)
    out = canonicalize_triples(df, max_iter=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    # shuffles over the TRIPLE TABLE (keys mention subject/object/url);
    # the include-map's own tiny groupBy/distinct exchanges (_comp/
    # _member keys) are fine at scale
    big_shuffles = [m for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
                    if "subject#" in m or "object#" in m or "url#" in m]
    assert len(big_shuffles) <= 1, plan
    assert "CartesianProduct" not in plan


def test_canonicalize_job_count(spark):
    """J4 job-count guard: canonicalize on the single-shuffle fixture,
    written to the noop sink, runs at most the 13 Spark jobs it ran
    when the CC size rule was folded into connected_components (AQE
    submits each shuffle stage it materializes as its own job). Fixed
    per-job latency is J4's non-scaling term on short runs."""
    from pikes_spark.operators.canonicalize import canonicalize_triples
    df = _j4_triples(spark)
    sc = spark.sparkContext
    group = "canonicalize_job_count"
    sc.setJobGroup(group, "canonicalize job-count guard")
    try:
        canonicalize_triples(df, max_iter=4).write.format("noop") \
            .mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 13, sorted(jobs)


def test_ivf_assignment_has_no_window_exchange(spark):
    # IVF centroid assignment must be an argmax AGGREGATION (partial
    # map-side combine over the ×nlist expansion), not a row_number
    # window that shuffles nlist× the table (VERDICT r3 item 7)
    from pikes_spark.operators import similarity
    plan = similarity.ivf_topk(spark, SF, 0, 5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max_by" in plan or "HashAggregate" in plan


def test_asof_join_single_hash_exchange(spark):
    # the as-of join claims ONE user_id hash shuffle (union-tag +
    # running window), not a range join or per-row probe
    from pikes_spark.operators import events
    plan = events.asof_join(spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_new_textops_stay_jvm_side(spark):
    """top_terms / postings / quantiles / split / batches / redaction
    are pure Catalyst — no Python eval nodes, partial aggregation
    where a groupBy exists."""
    from pikes_spark.operators.textstats import (
        length_quantiles, postings, redact_pii, token_batches, top_terms,
        train_test_split)
    for fn in (top_terms, postings, length_quantiles, train_test_split,
               token_batches, redact_pii):
        assert_no_python_eval(fn(spark, SF))
    assert_partial_aggregation(postings(spark, SF))
    assert_partial_aggregation(train_test_split(spark, SF))


def test_textops_prune_columns_at_scan(spark):
    """A 2-column operator must not scan the whole documents table."""
    from pikes_spark.operators.textstats import top_terms, train_test_split
    plan_tt = explain_formatted(top_terms(spark, SF))
    assert "doc_id" in plan_tt and '"html"' not in plan_tt
    from pikes_spark.plans.audit import explain_formatted as ef
    plan_split = ef(train_test_split(spark, SF))
    # split touches doc_id + lang only: text must be pruned from the scan
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan_split)
    assert m and "text" not in m.group(1), plan_split


def test_sparql_constant_pushdown_and_no_python(spark):
    """Constant pattern terms must reach the scan as pushed filters
    when querying a parquet-backed triple table."""
    import tempfile

    from pikes_spark.operators.kgquery import rel_triples, sparql_query
    tmp = tempfile.mkdtemp(prefix="sparql_plan_")
    rel_triples(spark, SF).write.parquet(f"{tmp}/t.parquet")
    t = spark.read.parquet(f"{tmp}/t.parquet")
    out = sparql_query(t, """
        PREFIX ex: <http://example.org/>
        SELECT ?c WHERE { ?c ex:segment "BUILDING" . }""")
    plan = explain_formatted(out)
    assert "EqualTo(predicate,http://example.org/segment)" in plan, plan
    assert "EqualTo(object,BUILDING)" in plan, plan
    assert_no_python_eval(out)


def test_bfs_frontier_no_python_no_cartesian(spark):
    from pikes_spark.operators.graph import bfs_reach
    out = bfs_reach(spark, SF)
    assert_no_python_eval(out)
    assert_no_cartesian(out)


def test_triangles_no_python_no_cartesian_partial_agg(spark):
    """Triangle counting: JVM-side wedge joins only, degree + member
    counts are partial aggregations, no cartesian expansion."""
    from pikes_spark.operators.graph import triangles_top
    out = triangles_top(spark, SF)
    assert_no_python_eval(out)
    assert_no_cartesian(out)
    assert_partial_aggregation(out)


def test_repetition_no_python_partial_agg_pruned_scan(spark):
    """Repetition stats: pure Catalyst, map-side partial counts, and
    only (doc_id, text) read from the documents scan."""
    import re

    from pikes_spark.operators.textstats import repetition_stats
    out = repetition_stats(spark, SF)
    assert_no_python_eval(out)
    assert_partial_aggregation(out)
    plan = explain_formatted(out)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1), plan


def test_weblinks_extraction_map_only_and_rollups_jvm_side(spark):
    """Link extraction is map-only work fused into the scan (no
    exchange touches page html); the host-graph/prior rollups are
    pure Catalyst with partial aggregation."""
    from pikes_spark.operators import weblinks
    plan = explain_formatted(weblinks.page_links(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert_no_python_eval(weblinks.page_links(spark, SF))
    g = weblinks.host_graph_rel(spark, SF)
    assert_no_python_eval(g)
    assert_partial_aggregation(g)
    assert_no_python_eval(weblinks.anchor_priors_rel(spark, SF))


def test_session7_ops_plan_shapes(spark):
    """New-op plan audit: DSIR stays JVM-side with its dictionary
    joins broadcast; negative sampling, SCD2, char-sets, and SHACL
    have no Python eval and no row-level cartesian; SCD2 reuses ONE
    user_id exchange for both windows."""
    from pikes_spark.operators import events, graph, kgquery, textstats

    dsir = textstats.dsir_weights(spark, SF)
    assert_no_python_eval(dsir)
    assert_broadcast_join(dsir)
    # (the totals crossJoin appears as a BroadcastNestedLoopJoin over
    # exactly ONE broadcast row — allowed by design, same stance as
    # the embedding block-grid; no row-level cartesian check here)

    neg = graph.negative_samples(spark, SF)
    assert_no_python_eval(neg)
    assert_no_cartesian(neg)

    cs = kgquery.characteristic_sets(spark, SF)
    assert_no_python_eval(cs)
    assert_partial_aggregation(cs)

    shacl = kgquery.shacl_report(spark, SF)
    assert_no_python_eval(shacl)
    assert_no_cartesian(shacl)

    scd2 = events.scd2_history(spark, SF)
    assert_no_python_eval(scd2)
    plan = explain_formatted(scd2)
    # both lag and lead run over the same (user_id, ts, event_id)
    # partitioning/sort: exactly one user_id hash exchange
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_bucketed_join_is_shuffle_free(spark):
    """bucketBy(8, key) + sortBy on both sides -> the forced
    sort-merge join runs with ZERO Exchange and both scans bucketed —
    the write-once/join-many layout contract."""
    from pikes_spark.operators import layout
    j, (tc, to) = layout.bucketed_join_plan(spark, SF)
    try:
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tc}")
        spark.sql(f"DROP TABLE IF EXISTS {to}")


def test_q5_broadcasts_dims_no_cartesian(spark):
    """TPC-H Q5 shape: nation/region reach the plan as broadcasts; no
    row-level cartesian anywhere in the 6-way join."""
    import __spark_entry__ as e
    df = e.queries()["rel_q5_local_supplier"](spark, SF)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    assert_no_python_eval(df)


def test_session7_part2_plan_shapes(spark):
    """Plan audit for the later seventh-session ops: NT export,
    contrastive mining, k-means assignment, GNN aggregation, JSON
    rollup — all JVM-side; broadcasts where claimed; partial
    aggregation on the big groupBys."""
    import __spark_entry__ as e
    qs = e.queries()
    for name in ("kg_nt_export", "txt_contrastive_pairs",
                 "sim_kmeans_codebook", "kg_gnn_neighbor_mean",
                 "evt_json_props", "rel_q14_promo_share",
                 "rel_rollup_revenue"):
        assert_no_python_eval(qs[name](spark, SF))
    from pikes_spark.operators import graph, textstats
    assert_partial_aggregation(graph.neighbor_mean_features(spark, SF))
    assert_broadcast_join(textstats.contrastive_pairs(spark, SF))
