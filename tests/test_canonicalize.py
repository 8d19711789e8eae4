"""Connected-components stress tests (FIXTURES.md §5): chain, star/skew
hub, disconnected pairs, cycle."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from pikes_spark.operators.canonicalize import (
    OWL_SAMEAS, build_sameas_edges, canonicalize_triples, connected_components)


def _cc(spark, pairs, local_threshold=0):
    # local_threshold=0 forces the DISTRIBUTED star algorithm
    edges = spark.createDataFrame(pairs, "src string, dst string")
    rows = connected_components(edges, local_threshold=local_threshold).collect()
    return {r["node"]: r["component"] for r in rows}


def test_local_and_distributed_paths_agree(spark):
    pairs = ([(f"n{i:03d}", f"n{i+1:03d}") for i in range(30)]
             + [("x1", "x2"), ("x2", "x3"), ("http://e/1#A", "http://dbpedia.org/resource/A")])
    dist = _cc(spark, pairs, local_threshold=0)
    local = _cc(spark, pairs, local_threshold=10**9)
    nodes = {p for pair in pairs for p in pair}
    assert comp_sets(dist, nodes) == comp_sets(local, nodes)


def comp_sets(mapping, nodes):
    from collections import defaultdict
    groups = defaultdict(set)
    for n in nodes:
        groups[mapping.get(n, n)].add(n)
    return sorted(tuple(sorted(g)) for g in groups.values())


def test_cc_chain(spark):
    n = 200
    pairs = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n - 1)]
    m = _cc(spark, pairs)
    nodes = {f"n{i:04d}" for i in range(n)}
    comps = comp_sets(m, nodes)
    assert len(comps) == 1 and len(comps[0]) == n


def test_cc_star_hub_skew(spark):
    pairs = [(f"leaf{i:05d}", "hub") for i in range(2000)]
    m = _cc(spark, pairs)
    vals = set(m.values()) | {m.get("hub", "hub")}
    assert len({m[f"leaf{i:05d}"] for i in range(2000)}) == 1


# 0 runs the distributed star path, 10**9 the driver union-find
BOTH_PATHS = pytest.mark.parametrize("local_threshold", [0, 10**9])


@BOTH_PATHS
def test_cc_disconnected_pairs_and_cycle(spark, local_threshold):
    pairs = [("a1", "a2"), ("b1", "b2"),
             ("c1", "c2"), ("c2", "c3"), ("c3", "c1")]  # cycle
    m = _cc(spark, pairs, local_threshold)
    nodes = {"a1", "a2", "b1", "b2", "c1", "c2", "c3"}
    comps = comp_sets(m, nodes)
    assert comps == [("a1", "a2"), ("b1", "b2"), ("c1", "c2", "c3")]
    # the map holds merged nodes only, each pointing at its minimum
    assert m == {"a2": "a1", "b2": "b1", "c2": "c1", "c3": "c1"}


@BOTH_PATHS
def test_cc_dbpedia_uri_wins_as_canonical(spark, local_threshold):
    pairs = [("http://example.org/doc/1#Bush", "http://dbpedia.org/resource/George_W._Bush"),
             ("http://example.org/doc/2#Bush", "http://dbpedia.org/resource/George_W._Bush"),
             # rank order beats plain string order: dbpedia < http < local
             ("e:bush", "http://example.org/doc/1#Bush")]
    m = _cc(spark, pairs, local_threshold)
    assert m == {"http://example.org/doc/1#Bush": "http://dbpedia.org/resource/George_W._Bush",
                 "http://example.org/doc/2#Bush": "http://dbpedia.org/resource/George_W._Bush",
                 "e:bush": "http://dbpedia.org/resource/George_W._Bush"}


def test_canonicalize_triples_merges_surface_forms(spark):
    rows = [
        # same surface name on two pages -> must merge
        ("u1", "http://e/1#United_States", "http://xmlns.com/foaf/0.1/name",
         "United States", "", "attribute"),
        ("u2", "http://e/2#United_States", "http://xmlns.com/foaf/0.1/name",
         "United States", "", "attribute"),
        ("u1", "http://e/1#United_States", "rdf:type", "T", "fact:g1", "instance"),
        ("u2", "http://e/2#United_States", "rdf:type", "T", "fact:g1", "instance"),
    ]
    triples = spark.createDataFrame(
        rows, "url string, subject string, predicate string, object string, graph string, component string")
    out = canonicalize_triples(triples)
    subs = {r["subject"] for r in out.filter(F.col("predicate") == "rdf:type").collect()}
    assert len(subs) == 1  # merged to a single canonical subject


def test_canonicalize_preserves_preexisting_self_loops(spark):
    """VERDICT r4 finding 6: a (X, p, X) row that existed BEFORE
    canonicalization must survive it — both when X is untouched by the
    mapping and when X itself is merged (the loop rewrites to
    (C, p, C)). Only self-loops CREATED by collapsing two distinct
    coreferent nodes are dropped."""
    rows = [
        # pre-existing self-loop on a node outside any merge
        ("u1", "e:solo", "p:relatedTo", "e:solo", "g1", "instance"),
        # merge pair: two URIs linked by sameAs
        ("u1", "e:a", "http://www.w3.org/2002/07/owl#sameAs", "e:b",
         "", "instance"),
        # pre-existing self-loop on a MERGED node
        ("u1", "e:a", "p:relatedTo", "e:a", "g1", "instance"),
        # a cross edge that COLLAPSES to a self-loop -> must be dropped
        ("u1", "e:a", "p:knows", "e:b", "g1", "instance"),
        ("u1", "e:b", "rdf:type", "T", "g1", "instance"),
    ]
    triples = spark.createDataFrame(
        rows, "url string, subject string, predicate string, "
              "object string, graph string, component string")
    out = canonicalize_triples(triples)
    loops = {(r["subject"], r["predicate"], r["object"])
             for r in out.filter(F.col("subject") == F.col("object"))
             .collect()}
    assert ("e:solo", "p:relatedTo", "e:solo") in loops
    # the merged node's self-loop survives under the canonical URI
    assert any(p == "p:relatedTo" and s == o and s != "e:solo"
               for s, p, o in loops)
    # the collapsed cross edge is gone
    assert not any(p == "p:knows" for _, p, _ in loops)


def test_size_rule_does_not_change_rows(spark, monkeypatch):
    """BROADCAST_MAX_BYTES = 0 turns every sized join (the canonical
    map, distill's per-url link lists) into a shuffle join; the rows
    must not change."""
    from pikes_spark.operators import canonicalize
    from pikes_spark.operators.annotate import annotate_pages, distill_annotations
    from pikes_spark.operators.linking import candidates_df, link_entities
    from pikes_spark.sources.pages import html_col

    triples = spark.createDataFrame([
        ("u1", "http://e/1#US", "http://xmlns.com/foaf/0.1/name",
         "United States", "", "attribute"),
        ("u2", "http://e/2#US", "http://xmlns.com/foaf/0.1/name",
         "United States", "", "attribute"),
        ("u1", "http://e/1#US", "rdf:type", "T", "g1", "instance"),
        ("u2", "http://e/2#US", "p:near", "http://e/2#CA", "g2", "instance"),
        ("u2", "http://e/2#CA", OWL_SAMEAS,
         "http://dbpedia.org/resource/Canada", "", "instance"),
    ], "url string, subject string, predicate string, object string, "
       "graph string, component string")
    pages = spark.createDataFrame([
        ("http://e/d1", "George Bush visited Paris and met officials."),
        ("http://e/d2", "The mayor praised New York City officials.")],
        "url string, text string").select(
        "url", html_col(F.col("text")).alias("html"), "text",
        F.lit("en").alias("lang"))
    ann = annotate_pages(pages).localCheckpoint()
    links = link_entities(ann, candidates_df(spark))

    def run():
        canon = canonicalize.canonicalize_triples(triples) \
            .select(*triples.columns)
        plan = canon._jdf.queryExecution().executedPlan().toString()
        return (Counter(map(tuple, canon.collect())),
                Counter(map(tuple, distill_annotations(ann, links).collect())),
                plan)

    canon, distilled, plan = run()
    assert "SortMergeJoin" not in plan
    # both frames start (url, subject, predicate, object)
    assert any(r[3] == "http://dbpedia.org/resource/Canada" for r in canon)
    assert any("dbpedia.org/resource/Paris" in (r[3] or "")
               for r in distilled)
    monkeypatch.setattr(canonicalize, "BROADCAST_MAX_BYTES", 0)
    canon0, distilled0, plan0 = run()
    assert "SortMergeJoin" in plan0
    assert canon0 == canon and distilled0 == distilled


def test_include_composite_dissolution(spark):
    from pikes_spark.operators.canonicalize import dissolve_composites
    ks = "http://dkm.fbk.eu/ontologies/knowledgestore#"
    rows = [
        ("u", "comp:jm", ks + "include", "e:john", "", ""),
        ("u", "comp:jm", ks + "include", "e:mary", "", ""),
        ("u", "comp:jm", "rdf:type", "ks:Entity", "g1", ""),
        ("u", "p:met", "sem:hasActor", "comp:jm", "g2", ""),
        ("u", "e:john", "rdf:type", "ks:Entity", "g3", ""),
    ]
    df = spark.createDataFrame(
        rows, "url string, subject string, predicate string, object string, "
              "graph string, component string")
    out = dissolve_composites(df).collect()
    subs = {(r["subject"], r["predicate"], r["object"]) for r in out}
    # composite gone; its statements propagated to both members
    assert not any("comp:jm" in (r["subject"], r["object"]) for r in out)
    assert ("p:met", "sem:hasActor", "e:john") in subs
    assert ("p:met", "sem:hasActor", "e:mary") in subs
    assert ("e:mary", "rdf:type", "ks:Entity") in subs


def test_cc_random_graph_matches_union_find(spark):
    """Distributed star CC == reference union-find on a seeded random
    graph (8k nodes / 12k edges, power-law-ish hubs): identical
    PARTITION STRUCTURE, and every emitted root is the lexicographic
    minimum of its component (the deterministic canonical choice)."""
    import random

    rng = random.Random(20260816)
    n_nodes, n_edges = 8000, 12000
    nodes = [f"http://e/n{i:05d}" for i in range(n_nodes)]
    edges = []
    for _ in range(n_edges):
        a = nodes[rng.randrange(n_nodes)]
        # hub bias: 20% of edges attach to the first 50 nodes
        b = nodes[rng.randrange(50)] if rng.random() < 0.2 \
            else nodes[rng.randrange(n_nodes)]
        if a != b:
            edges.append((a, b))
    # python union-find reference
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), set()).add(x)
    expected = {frozenset(v | {r}) for r, v in comp.items()}

    from pikes_spark.operators.canonicalize import connected_components
    df = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components(df, local_threshold=0)  # force distributed
    got_groups = {}
    for r in out.collect():
        got_groups.setdefault(r["component"], set()).add(r["node"])
    got = set()
    for root, members in got_groups.items():
        members.add(root)
        assert root == min(members), (root, min(members))
        got.add(frozenset(members))
    # singletons never appear in either representation's edge set
    expected_multi = {g for g in expected if len(g) > 1}
    got_multi = {g for g in got if len(g) > 1}
    assert got_multi == expected_multi


def test_snapshot_time_travel_and_expiry(spark, tmp_path):
    """S4 maintenance: historical snapshots readable by sequence
    (VERSION AS OF); expire_snapshots drops old manifests + orphaned
    data but never data a kept manifest still references."""
    import os

    from pikes_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"), name="t")
    t.append(spark.createDataFrame([(1,)], "v int"), spark)
    t.append(spark.createDataFrame([(2,)], "v int"), spark)
    t.append(spark.createDataFrame([(3,)], "v int"), spark)
    # time travel: sequence 1 sees the first two appends
    assert sorted(r.v for r in t.read(spark, sequence=1).collect()) == [1, 2]
    assert sorted(r.v for r in t.read(spark).collect()) == [1, 2, 3]
    # expire to the latest only: accumulating table keeps ALL data dirs
    # (the latest manifest references them), older manifests go
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_manifests"] == 2 and res["removed_data_dirs"] == 0
    assert t.snapshot(1) is None
    assert sorted(r.v for r in t.read(spark).collect()) == [1, 2, 3]

    # overwrite table: expiry deletes the replaced snapshot's data
    o = SnapshotTable(str(tmp_path / "o"), name="o")
    o.overwrite(spark.createDataFrame([(1,)], "v int"), spark)
    old_dir = o.latest_snapshot()["data_dirs"][0]
    o.overwrite(spark.createDataFrame([(9,)], "v int"), spark)
    res = o.expire_snapshots(keep_last=1)
    assert res["expired_manifests"] == 1 and res["removed_data_dirs"] == 1
    assert not os.path.isdir(old_dir)
    assert [r.v for r in o.read(spark).collect()] == [9]


def test_rewrite_data_files_compacts_without_changing_rows(spark, tmp_path):
    """S4 maintenance: bin-pack compaction merges accumulated append
    dirs into one, preserves contents exactly, keeps time travel to
    pre-compaction sequences, and expire then reclaims small files."""
    import os

    from pikes_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "c"), sort_cols=["v"], name="c")
    for i in range(4):
        t.append(spark.createDataFrame([(i,), (i + 100,)], "v int"), spark)
    before = sorted(r.v for r in t.read(spark).collect())
    assert len(t.latest_snapshot()["data_dirs"]) == 4
    res = t.rewrite_data_files(spark)
    assert res["rewritten"] and res["lineage"]["compacted_dirs"] == 4
    snap = t.latest_snapshot()
    assert len(snap["data_dirs"]) == 1
    assert snap["total_rows"] == 8
    assert sorted(r.v for r in t.read(spark).collect()) == before
    # pre-compaction sequence still time-travels
    assert len(t.read(spark, sequence=2).collect()) == 6
    # second rewrite is a no-op
    assert t.rewrite_data_files(spark) == {
        "rewritten": False, "reason": "already compact"}
    # expire now reclaims the small append dirs
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_data_dirs"] == 4
    assert sorted(r.v for r in t.read(spark).collect()) == before
