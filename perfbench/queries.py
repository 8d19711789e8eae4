"""The graph_query mix: five SPARQL classes with constants drawn from the
built graph, each paired with a DuckDB count over the same committed
snapshot files (an independent engine as the row-count oracle).

The committed graph holds no owl:sameAs rows (canonicalization folds
them into the component rewrite), so the 2-hop class joins
sem:hasActor with foaf:name, the join the graph does carry.
"""

from __future__ import annotations

import random
from typing import Dict, Iterator, Tuple

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
FOAF_NAME = "http://xmlns.com/foaf/0.1/name"
HAS_ACTOR = "http://semanticweb.cs.vu.nl/2009/11/sem/hasActor"
CLASSES = ["describe", "scan", "two_hop", "ask", "construct"]


def _lit(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"')


def _sql(s: str) -> str:
    return s.replace("'", "''")


def constants(con) -> Dict[str, list]:
    """Entities, types and names present in the snapshot view ``t``."""
    ents = [r[0] for r in con.execute(
        "SELECT DISTINCT subject FROM t WHERE subject LIKE "
        "'http://dbpedia.org/%' ORDER BY 1").fetchall()]
    types = [r[0] for r in con.execute(
        f"SELECT object FROM t WHERE predicate = '{RDF_TYPE}' "
        "GROUP BY 1 HAVING count(*) BETWEEN 20 AND 5000 ORDER BY 1"
    ).fetchall()]
    names = con.execute(
        f"SELECT DISTINCT subject, object FROM t WHERE predicate = "
        f"'{FOAF_NAME}' AND subject LIKE 'http://dbpedia.org/%' "
        "ORDER BY 1, 2").fetchall()
    actors = [r[0] for r in con.execute(
        f"SELECT DISTINCT n.object FROM t a JOIN t n ON a.object = n.subject "
        f"WHERE a.predicate = '{HAS_ACTOR}' AND n.predicate = '{FOAF_NAME}' "
        "ORDER BY 1").fetchall()]
    if not (ents and types and names and actors):
        raise ValueError("snapshot lacks entities, types, names or actors")
    return {"ents": ents, "types": types, "names": names, "actors": actors}


def make_query(cls: str, rng: random.Random, c: Dict[str, list]
               ) -> Tuple[str, str]:
    """(SPARQL text, DuckDB SQL returning the expected row count)."""
    if cls == "describe":
        e = rng.choice(c["ents"])
        return (f"DESCRIBE <{e}>",
                f"SELECT count(*) FROM (SELECT * FROM t WHERE subject = "
                f"'{_sql(e)}' UNION SELECT * FROM t WHERE object = "
                f"'{_sql(e)}' AND NOT object_is_literal)")
    if cls == "scan":
        ty = rng.choice(c["types"])
        return (f"SELECT ?s WHERE {{ ?s <{RDF_TYPE}> <{ty}> }}",
                f"SELECT count(*) FROM t WHERE predicate = '{RDF_TYPE}' "
                f"AND object = '{_sql(ty)}' AND NOT object_is_literal")
    if cls == "two_hop":
        n = rng.choice(c["actors"])
        return (f'SELECT ?ev ?e WHERE {{ ?ev <{HAS_ACTOR}> ?e . '
                f'?e <{FOAF_NAME}> "{_lit(n)}" }}',
                f"SELECT count(*) FROM t a JOIN t n ON a.object = n.subject "
                f"WHERE a.predicate = '{HAS_ACTOR}' AND NOT a.object_is_literal"
                f" AND n.predicate = '{FOAF_NAME}' AND n.object_is_literal "
                f"AND n.object = '{_sql(n)}'")
    if cls == "ask":
        s, name = rng.choice(c["names"])
        if rng.random() < 0.5:  # a name the subject does not carry
            name = rng.choice(c["names"])[1]
        return (f'ASK {{ <{s}> <{FOAF_NAME}> "{_lit(name)}" }}',
                f"SELECT CAST(count(*) > 0 AS INTEGER) FROM t WHERE "
                f"subject = '{_sql(s)}' AND predicate = '{FOAF_NAME}' "
                f"AND object = '{_sql(name)}' AND object_is_literal")
    if cls == "construct":
        ty = rng.choice(c["types"])
        return (f"CONSTRUCT {{ ?s <{FOAF_NAME}> ?n }} WHERE {{ "
                f"?s <{RDF_TYPE}> <{ty}> . ?s <{FOAF_NAME}> ?n }}",
                f"SELECT count(*) FROM (SELECT DISTINCT a.subject, n.object "
                f"FROM t a JOIN t n ON a.subject = n.subject WHERE "
                f"a.predicate = '{RDF_TYPE}' AND a.object = '{_sql(ty)}' "
                f"AND NOT a.object_is_literal AND n.predicate = '{FOAF_NAME}'"
                f" AND n.object_is_literal)")
    raise ValueError(cls)


def query_stream(seed: int, c: Dict[str, list]
                 ) -> Iterator[Tuple[str, str, str]]:
    """Endless (class, sparql, oracle sql) triples: each block of five
    holds every class once, in a seeded order."""
    rng = random.Random(f"queries:{seed}")
    while True:
        block = list(CLASSES)
        rng.shuffle(block)
        for cls in block:
            yield (cls, *make_query(cls, rng, c))


def run_query(kgquery, spark, out_root: str, cls: str, sparql: str):
    """Compile then execute one query against the latest committed
    snapshot under ``out_root``: SELECT classes through
    ``kgquery.query_snapshot``, the other forms through their kgquery
    functions over the same snapshot read. Returns (compile_s, exec_s,
    rows); ASK compiles and executes in one call, reported as exec."""
    import time

    from pikes_spark.sources.tables import SnapshotTable

    t0 = time.perf_counter()
    if cls in ("scan", "two_hop"):
        df = kgquery.query_snapshot(spark, out_root, sparql)
    else:
        triples = SnapshotTable(f"{out_root}/triples",
                                ["subject", "predicate", "object"],
                                name="triples").read(spark)
        if cls == "ask":
            rows = int(kgquery.sparql_ask(triples, sparql))
            return 0.0, time.perf_counter() - t0, rows
        fn = (kgquery.sparql_describe if cls == "describe"
              else kgquery.sparql_construct)
        df = fn(triples, sparql)
    t1 = time.perf_counter()
    rows = len(df.collect())
    return t1 - t0, time.perf_counter() - t1, rows
