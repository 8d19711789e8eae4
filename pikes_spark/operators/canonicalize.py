"""J4 cross-document canonicalization: sameAs smushing as distributed
connected components (replaces rdfpro's in-memory smush,
RDFGenerator.java:1859-1964 / SURVEY.md D12).

Edges between instance IRIs come from three sources:
  1. within-document owl:sameAs triples (coref D6, copular D3);
  2. entities linked to the same DBpedia URI (via the URI node);
  3. named entities sharing a normalized surface form (via a
     ``surface:`` hub node) — the power-law key ("united states" on
     millions of pages). Because nodes connect to a HUB rather than
     pairwise, the natural O(n^2) pair explosion becomes O(n) edges —
     this is the salting: the groupBy on surface form is replaced by a
     map-side edge emission, and the CC iteration handles hubs.

Connected components: alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) — O(log n) rounds, skew-tolerant, expressed as DataFrame
self-joins with localCheckpoint per frontier to cut lineage.

The component representative (min IRI, with DBpedia URIs ordered
first so they win as canonical — the reference prefers DBpedia
canonical IRIs in smushing) rewrites triple subjects/objects; final
dropDuplicates on (s,p,o,graph) dedupes merged statements.

Join sizing: ``connected_components`` alone builds the component map
and decides, with ``broadcast_if_small``, whether it goes back as a
broadcast side. Distill's per-url link join uses the same rule and the
same ``BROADCAST_MAX_BYTES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
FOAF_NAME = "http://xmlns.com/foaf/0.1/name"

# Largest join side, in UTF-8 bytes of its payload, handed back with a
# broadcast hint (broadcast_if_small). Row counts lie for IRI strings:
# 20M rows of 100-byte IRIs is ~2 GB and would OOM real executors as a
# broadcast; above this the join stays a shuffle join.
BROADCAST_MAX_BYTES = 64 * 1024 * 1024
# connected_components runs union-find on the driver up to this many edges
LOCAL_CC_MAX_EDGES = 2_000_000

# canonical-preference prefix: DBpedia URIs ("0") sort before other
# http:// IRIs ("1"), which sort before entity:/surface: locals ("2").


def _rank_key(col):
    return F.when(col.startswith("http://dbpedia.org/"), F.concat(F.lit("0"), col)) \
            .when(col.startswith("http://"), F.concat(F.lit("1"), col)) \
            .otherwise(F.concat(F.lit("2"), col))


def build_sameas_edges(triples: DataFrame) -> DataFrame:
    """-> edges(src, dst) between IRIs that must merge."""
    sameas = (triples.filter(F.col("predicate") == OWL_SAMEAS)
              .select(F.col("subject").alias("src"), F.col("object").alias("dst")))
    # entities sharing a foaf:name -> connect via surface hub (skew-safe)
    names = (triples.filter(F.col("predicate") == FOAF_NAME)
             .select(F.col("subject").alias("src"),
                     F.concat(F.lit("surface:"),
                              F.regexp_replace(F.lower("object"), r"[^a-z0-9]+", "_"))
                     .alias("dst")))
    return sameas.unionByName(names)


def broadcast_if_small(df: DataFrame, payload_bytes: int) -> DataFrame:
    """The one size-based join decision: hint ``df`` as the broadcast
    side when its measured payload fits ``BROADCAST_MAX_BYTES``.

    Callers measure ``payload_bytes`` inside a job they already run
    (rows already collected, or an aggregate over a checkpointed
    frame). Catalyst cannot make this call itself: a ``createDataFrame``
    map and the CC output have unknown size (Long.MaxValue), and
    ``localCheckpoint`` keeps the pre-checkpoint estimate, so without
    the hint these small sides plan as sort-merge joins that sort the
    big side."""
    return F.broadcast(df) if payload_bytes <= BROADCAST_MAX_BYTES else df


def connected_components(edges: DataFrame, max_iter: int = 50,
                         local_threshold: int = LOCAL_CC_MAX_EDGES) -> DataFrame:
    """-> (node, component) via alternating large-star/small-star.

    Works on ``_rank_key``-ranked string ids (min() = lexicographic, so
    DBpedia URIs win as canonical) and strips the rank at the end. Only
    merged nodes appear; a component's root maps to nothing.

    Adaptive strategy: when the edge set has at most ``local_threshold``
    rows, union-find over the collected ranked edges on the driver is
    orders of magnitude cheaper than 2 log(n) shuffle rounds, whose
    dozen small latency-bound jobs cost the same at any core count.
    Above it (and always with ``local_threshold=0``, which the stress
    tests use) the distributed star iterations run, O(log n) rounds,
    each round localCheckpointed to truncate lineage.

    Either way the map comes back through ``broadcast_if_small``, sized
    from work already done: the collected rows on the driver path, the
    last convergence checksum on the star path."""
    ranked = (edges
              .select(_rank_key(F.col("src")).alias("u"),
                      _rank_key(F.col("dst")).alias("v"))
              .filter(F.col("u") != F.col("v")))
    # the size probe is a counted aggregate (one job moving one long);
    # IRI strings reach the driver only once it proves the set small
    if local_threshold > 0 and edges.count() <= local_threshold:
        comp = _union_find(ranked.collect())
        payload = sum(len(n.encode()) + len(c.encode()) for n, c in comp)
        return broadcast_if_small(
            edges.sparkSession.createDataFrame(
                comp, "node string, component string"), payload)

    e = (ranked
         .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
         .distinct())

    def checksum(df: DataFrame):
        # payload of the frontier (rank prefixes excluded): at the
        # fixpoint every component is a star, one (node, root) row per
        # merged node — the map below
        return df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            F.coalesce(F.sum(F.octet_length("u") + F.octet_length("v") - 2),
                       F.lit(0)).alias("bytes")).collect()[0]

    cs = None
    for _ in range(max_iter):
        # large-star: for each node, connect strictly-larger neighbors to
        # the min of (neighborhood ∪ self)
        nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (nbrs.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        large = (nbrs.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
                 .distinct())
        # small-star: connect smaller-or-equal neighbors (and self) to min
        nbrs2 = large.unionByName(
            large.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins2 = (nbrs2.groupBy("u").agg(F.min("v").alias("mv"))
                 .select("u", F.least("u", "mv").alias("m")))
        small = (nbrs2.filter(F.col("v") <= F.col("u"))
                 .join(mins2, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
                 .filter(F.col("u") != F.col("v"))
                 .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
                 .distinct())
        e = small.localCheckpoint()  # truncate lineage per frontier
        prev, cs = cs, checksum(e)
        if prev is not None and prev[:2] == cs[:2]:
            break

    comp = (e.select(F.col("u").alias("node"), F.col("v").alias("component"))
            .groupBy("node").agg(F.min("component").alias("component")))
    # strip the rank prefix
    strip = lambda c: F.substring(c, 2, 1_000_000)
    return broadcast_if_small(
        comp.select(strip(F.col("node")).alias("node"),
                    strip(F.col("component")).alias("component")),
        (cs or checksum(e))["bytes"])


def _union_find(pairs) -> list:
    """Driver-side union-find over ranked (u, v) ids -> (node, root)
    for every non-root node, rank prefixes stripped. Each union keeps
    the smaller ranked root, so a root is its component's minimum —
    the same canonical choice as the star path."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    # only merged nodes ever get a parent entry
    return [(n[1:], find(n)[1:]) for n in list(parent)]


def dissolve_composites(triples: DataFrame) -> DataFrame:
    """D12 ks:include dissolution (RDFGenerator.java:1859-1964): minted
    coordination composites dissolve — every statement in which the
    composite takes part is propagated to each ks:include member, and
    the composite's own rows disappear. The include map is tiny
    (one row per coordinated coref member) -> broadcast joins."""
    ks_include = "http://dkm.fbk.eu/ontologies/knowledgestore#include"
    inc = (triples.filter(F.col("predicate") == ks_include)
           .select(F.col("subject").alias("_comp"),
                   F.col("object").alias("_member")).distinct())
    # No emptiness probe: when there are no ks:include rows the joins
    # below are no-ops (empty broadcast map, coalesce keeps originals),
    # so paying a blocking driver job just to skip them costs more
    # than it saves — it was a fixed-latency job on the short-run
    # critical path.
    # ONE scan: broadcast the composite->members map grouped as arrays,
    # left-join each side, explode members (or the original value) —
    # no anti-join/union passes, no shuffle, and no early dedupe (the
    # caller's final dropDuplicates covers merged statements; a second
    # full-table shuffle here was a measured chunk of the non-scaling
    # J4 wall)
    smap = inc.groupBy("_comp").agg(F.collect_list("_member").alias("_ms"))
    s_side = F.broadcast(smap.withColumnRenamed("_comp", "subject"))
    o_side = F.broadcast(smap.withColumnRenamed("_comp", "object")
                         .withColumnRenamed("_ms", "_mo"))
    return (triples.filter(F.col("predicate") != ks_include)
            .join(s_side, "subject", "left")
            .withColumn("_hit", F.col("_ms").isNotNull())
            .withColumn("subject",
                        F.explode(F.coalesce("_ms", F.array("subject"))))
            .drop("_ms")
            .join(o_side, "object", "left")
            .withColumn("_hit", F.col("_hit") | F.col("_mo").isNotNull())
            .withColumn("object",
                        F.explode(F.coalesce("_mo", F.array("object"))))
            .drop("_mo")
            # drop only self-loops CREATED by dissolution (a composite
            # whose subject and object explode to the same member);
            # pre-existing subject==object rows pass through untouched
            .filter(~F.col("_hit") | (F.col("subject") != F.col("object")))
            .drop("_hit"))


def canonicalize_triples(triples: DataFrame, max_iter: int = 50,
                         dissolve_includes: bool = True) -> DataFrame:
    """Rewrite subjects/objects to canonical representatives and dedupe.

    The canonical map is small relative to the triple table (only
    merged instances appear); whether both rewrites broadcast it is
    decided in ``connected_components`` (``broadcast_if_small``), the
    one size rule shared with distill's link join."""
    if dissolve_includes:
        triples = dissolve_composites(triples)
    # materialize the edge set once: the CC size probe AND its collect
    # (or the star iterations) each re-ran the dissolve joins + explodes
    # over the full triple table otherwise — one full pass saved per
    # run. The edge set is sameAs/name-sized, far below the table.
    edges = build_sameas_edges(triples).localCheckpoint()
    # the map's broadcast hint (if any) survives the filter/withColumn
    # and renames below: both rewrites stay broadcast hash joins
    mapping = connected_components(edges, max_iter=max_iter)
    # drop synthetic surface hubs from the mapping domain
    mapping = mapping.filter(~F.col("node").startswith("surface:"))
    mapping = mapping.withColumn(
        "component",
        F.when(F.col("component").startswith("surface:"), F.col("node"))
        .otherwise(F.col("component")))
    rewritten = (triples
                 .join(mapping.withColumnRenamed("node", "subject")
                       .withColumnRenamed("component", "_cs"), "subject", "left")
                 .join(mapping.withColumnRenamed("node", "object")
                       .withColumnRenamed("component", "_co"), "object", "left")
                 # a row that was ALREADY a self-loop stays one (its
                 # subject and object rewrite identically), so keep it;
                 # drop only self-loops CREATED by the rewrite — two
                 # DISTINCT coreferent nodes collapsing to one URI.
                 # Same spirit as dissolve_composites' _hit guard.
                 .withColumn("_was_loop",
                             F.col("subject") == F.col("object"))
                 .withColumn("subject", F.coalesce("_cs", "subject"))
                 .withColumn("object", F.coalesce("_co", "object"))
                 .drop("_cs", "_co")
                 .filter(F.col("_was_loop")
                         | (F.col("subject") != F.col("object")))
                 .drop("_was_loop"))
    return rewritten.dropDuplicates(["subject", "predicate", "object", "graph", "url"])
