"""KG-construction benchmark: one command, a workload name and a seed.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from the seed, runs them through the
program's public entry points on a host-sized Spark session, checks
every output, and prints one JSON object as the last line of stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (from a
run with the Spark event log on and wrappers around the layer
functions) with ``--trace 1``. A human-readable table of the same
numbers goes to stderr. See README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import procstat  # noqa: E402
import reaper  # noqa: E402

# Measured units run after the cold first unit, for --seconds and at
# least MIN_MEASURED_UNITS of them. Over ten bulk_build seeds the first
# warm unit alone spread as much as the median of two (quartile spread
# 0.124 against 0.119), so the builds measure one. A near_dup_pages unit
# is short and still speeds up over its first three warm units (the JIT
# is compiling), so it runs one checked, unmeasured warm-up unit and then
# measures three: the median of warm units 2-4 spread 0.03 over 13 runs,
# that of units 1-3 0.10.
MIN_MEASURED_UNITS = 1
NEAR_DUP_WARMUP_UNITS = 1
NEAR_DUP_UNITS = 3
BULK_PAGES = 100
NEAR_DUP_DOCS = 400
QUERY_PAGES = 120
INCREMENTAL_BASE = 200
MIN_QUERIES = 100


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: session, sampler, counters."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.work = work
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.walls: list = []      # measured units
        self.cpus: list = []
        self.rss: list = []        # (tree, Python) peak RSS of every unit, bytes
        self.first_unit_s = None
        self.throughput = None     # work per second of wall_s
        self.layers: dict = {}
        self.info: dict = {"unit_walls_s": []}
        self.spark = None
        self.sampler = None
        self.tracer = None
        self.event_dir = os.path.join(work, "eventlog") if self.trace else None

    def timed(self, fn):
        """Run one unit: (result, wall s, tree CPU s); the unit's peak
        RSS is appended to ``rss``."""
        self.sampler.peak_rss = self.sampler.peak_py_rss = 0
        self.sampler.active = True
        c0 = self.sampler.cpu_s()
        t_wall = time.time()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span("unit"):
                    out = fn()
            else:
                out = fn()
        finally:
            wall = time.perf_counter() - t0
            cpu = self.sampler.cpu_s() - c0
            self.sampler.active = False
            self.rss.append((self.sampler.peak_rss, self.sampler.peak_py_rss))
            self.info["last_unit_interval"] = (t_wall, t_wall + wall)
        return out, wall, cpu

    def units(self, fn, check, ops_per_unit: int, prepare=None,
              min_units: int = MIN_MEASURED_UNITS, warmup: int = 0):
        """The first unit, ``warmup`` checked but unmeasured units, then
        measured units for ``--seconds`` (at least ``min_units``).
        ``prepare()`` runs untimed before each unit; ``check(result)``
        returns a list of problems."""
        for k in range(1 + warmup):
            if prepare:
                prepare()
            res, wall, _ = self.timed(fn)
            if k == 0:
                self.first_unit_s = wall
            self.info["unit_walls_s"].append(round(wall, 3))
            self._account(check(res), ops_per_unit,
                          f"warm-up unit {k}" if k else "first unit")
        t_end = time.perf_counter() + self.args.seconds
        self.info["warm_start"] = time.time()
        while len(self.walls) < min_units or time.perf_counter() < t_end:
            if prepare:
                prepare()
            res, wall, cpu = self.timed(fn)
            self.walls.append(wall)
            self.cpus.append(cpu)
            self.info["unit_walls_s"].append(round(wall, 3))
            self._account(check(res), ops_per_unit, f"unit {len(self.walls)}")

    def _account(self, problems: list, ops: int, label: str) -> None:
        self.attempted += ops
        if problems:
            self.failed += ops
            for p in problems:
                self.problems.append(f"{label}: {p}")
                log(f"CHECK FAILED ({label}): {p}")


# ---------------------------------------------------------------------------
# digests against the recorded reference
# ---------------------------------------------------------------------------
def digest_problems(run: Run, digests: list) -> list:
    """Every unit's digest must equal the first one and, when recorded,
    the reference for (workload, seed); differing columns are named."""
    import checks

    problems = []
    first = digests[0]
    unstable = sorted({c for d in digests[1:] for c in checks.differing(first, d)})
    if unstable:
        problems.append(f"columns not deterministic across units: {unstable}")
    ref = checks.reference_for(run.args.workload, run.seed)
    run.info["reference"] = "recorded" if ref else "none recorded for this seed"
    if ref and ref["*"] != first["*"]:
        problems.append("digest differs from the recorded reference in columns "
                        f"{checks.differing(ref, first) or ['(row set)']}")
    if run.args.record:
        checks.record_reference(run.args.workload, run.seed, first)
    return problems


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def build_workload(run: Run, in_dir: str, truth: dict, resume_from: str | None):
    """Shared by bulk_build and incremental_ingest: a unit is one
    ``run_pipeline``; with ``resume_from`` each unit first restores that
    committed state and resumes over the full input."""
    import checks
    from pikes_spark.pipeline import run_pipeline
    from pikes_spark.sources.gold import GOLD_PAGES

    import gen

    out = os.path.join(run.work, "out")
    gold = [f"http://example.org/gold/{g}" for g, _ in GOLD_PAGES]
    expect = checks.expected_urls(truth, gen.MAX_TEXT_LEN)
    n_ops = len(truth["pages"]) + len(gold)
    state = {}
    digests = []

    def prepare():
        shutil.rmtree(out, ignore_errors=True)
        if resume_from:
            shutil.copytree(resume_from, out)

    def unit():
        state["t_call"] = time.time()
        return run_pipeline(run.spark, in_dir, out,
                            resume=resume_from is not None)

    def check(m):
        problems, info = checks.check_build(out, truth, gold, expect)
        digests.append(info["digest"])
        state.update(info)
        state["manifest"] = m
        if info["annotate_errors"]:
            problems.append(f"{info['annotate_errors']} annotate errors")
        return problems

    run.units(unit, check, n_ops, prepare)
    digest_fail = digest_problems(run, digests)
    if digest_fail:
        run.problems += digest_fail
        run.failed = run.attempted
    triples = state["rows"]
    run.throughput = triples / statistics.median(run.walls)
    run.info.update({"committed_triples": triples, "documents": n_ops,
                     "triples_per_s": triples / statistics.median(run.walls)})
    if run.tracer is not None:
        trace_build(run, out, truth, expect, state)


def w_bulk_build(run: Run):
    import gen
    in_dir = os.path.join(run.work, "input")
    truth = gen.write_build_inputs(in_dir, run.seed, BULK_PAGES)
    build_workload(run, in_dir, truth, None)


def w_incremental_ingest(run: Run):
    import gen
    from pikes_spark.pipeline import run_pipeline
    in_dir = os.path.join(run.work, "input")
    truth = gen.write_incremental_inputs(in_dir, run.seed, INCREMENTAL_BASE)
    base = os.path.join(run.work, "base_state")
    run_pipeline(run.spark, os.path.join(in_dir, "base"), base, resume=False)
    build_workload(run, os.path.join(in_dir, "full"), truth, base)


def w_graph_query(run: Run):
    import duckdb

    import checks
    import gen
    import queries
    from pikes_spark.operators import kgquery
    from pikes_spark.pipeline import run_pipeline

    in_dir = os.path.join(run.work, "input")
    gen.write_build_inputs(in_dir, run.seed, QUERY_PAGES, over_length=0)
    out = os.path.join(run.work, "out")
    run_pipeline(run.spark, in_dir, out, resume=False)
    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM "
                + checks.scan(checks.latest_manifest(os.path.join(out, "triples"))))
    mix = queries.query_stream(run.seed, queries.constants(con))
    lat = {c: [] for c in queries.CLASSES}
    compile_ms, exec_ms = [], []
    oracle_cache = {}
    state = {}

    def unit():
        cls, sparql, sql = next(mix)
        state["q"] = (cls, sparql, sql)
        c, e, rows = queries.run_query(kgquery, run.spark, out, cls, sparql)
        compile_ms.append(1000 * c)
        exec_ms.append(1000 * e)
        lat[cls].append(1000 * (c + e))
        return rows

    def check(rows):
        cls, sparql, sql = state["q"]
        if sql not in oracle_cache:
            oracle_cache[sql] = con.execute(sql).fetchone()[0]
        want = oracle_cache[sql]
        return [] if rows == want else [f"{cls} query returned {rows} rows, "
                                        f"oracle {want}: {sparql[:200]}"]

    run.units(unit, check, 1, min_units=MIN_QUERIES)
    run.info["query_interval"] = (run.info["warm_start"], time.time(),
                                  len(run.walls))
    con.close()
    walls = sorted(run.walls)
    q = statistics.quantiles(walls, n=10)
    run.throughput = len(walls) / sum(walls)
    run.info.update({"query_p50_ms": 1000 * statistics.median(walls),
                     "query_p90_ms": 1000 * q[8], "queries": len(walls)})
    if run.tracer is not None:
        run.layers.update({
            "kgquery.compile_ms": statistics.median(compile_ms),
            "kgquery.exec_ms": statistics.median(exec_ms)})
        for cls, v in lat.items():
            run.layers[f"kgquery.{cls}.p50_ms"] = statistics.median(v)


def w_near_dup_pages(run: Run):
    import numpy as np
    import pyarrow.parquet as pq

    import checks
    import gen
    from pikes_spark.operators import dedup, similarity

    in_dir = os.path.join(run.work, "input")
    truth = gen.write_near_dup_inputs(in_dir, run.seed, NEAR_DUP_DOCS)
    docs = pq.read_table(os.path.join(in_dir, "documents.parquet"))
    texts = dict(zip(docs.column("doc_id").to_pylist(),
                     docs.column("text").to_pylist()))
    emb = pq.read_table(os.path.join(in_dir, "embeddings.parquet"))
    vecs = gen.int_vecs(np.array(emb.column("embedding").to_pylist(),
                                 dtype=np.float32))
    digests, state = [], {}

    def unit():
        t0 = time.time()
        pairs = dedup.minhash_lsh_pairs(run.spark, in_dir).toArrow()
        t1 = time.time()
        sd = similarity.semdedup(run.spark, in_dir).toArrow()
        state["t_sd"] = (t1, time.time())
        state["lsh_s"], state["semdedup_s"] = t1 - t0, state["t_sd"][1] - t1
        return pairs, sd

    def check(res):
        pairs, sd = res
        problems, info = checks.check_near_dup(pairs, sd, truth, texts, vecs)
        digests.append(checks.near_dup_digest(pairs, sd))
        state.update(info)
        return problems

    run.units(unit, check, 1, min_units=NEAR_DUP_UNITS,
              warmup=NEAR_DUP_WARMUP_UNITS)
    digest_fail = digest_problems(run, digests)
    if digest_fail:
        run.problems += digest_fail
        run.failed = run.attempted
    run.throughput = (docs.num_rows + emb.num_rows) / statistics.median(run.walls)
    run.info.update({"pairs": state["pairs"], "kept": state["kept"],
                     "planted_pairs": len(truth["dup_pairs"]),
                     "planted_vec_pairs_split": state["planted_vec_pairs_split"]})
    if run.tracer is not None:
        run.layers.update({
            "pages.docs_in": docs.num_rows,
            "dedup.lsh_s": state["lsh_s"],
            "dedup.pairs": state["pairs"],
            "dedup.planted_recall": state["planted_recall"],
            "similarity.semdedup_s": state["semdedup_s"],
            "similarity.max_cluster_rows": state["max_cluster_rows"]})
        run.info["semdedup_interval"] = state["t_sd"]


WORKLOADS = {
    "bulk_build": w_bulk_build,
    "incremental_ingest": w_incremental_ingest,
    "graph_query": w_graph_query,
    "near_dup_pages": w_near_dup_pages,
}


# ---------------------------------------------------------------------------
# the traced run's layer probes (builds)
# ---------------------------------------------------------------------------
def trace_build(run: Run, out: str, truth: dict, expect: list,
                state: dict) -> None:
    """Layer probes after the last traced unit: the functions layer in
    process over the workload's pages, linking, the tables layer and a
    short query mix through kgquery."""
    import duckdb

    import checks
    import queries
    import tracing
    from pikes_spark.operators import kgquery
    from pikes_spark.operators.linking import candidates_df, link_entities
    from pikes_spark.sources.tables import SnapshotTable

    L = run.layers
    tr = run.tracer
    m = state["manifest"]
    run.info["stage_intervals"] = tracing.stage_intervals(state["t_call"], m["timings"])
    run.info["last_unit_wall"] = run.walls[-1]
    n_docs = len(truth["pages"])
    L["pages.docs_in"] = n_docs
    L["pages.filtered_share"] = 1 - len(expect) / n_docs
    # functions layer, single process
    docs = [(u, truth["pages"][u.rsplit("/", 1)[-1]], "en") for u in expect]
    L.update(tracing.profile_functions(tr, docs))
    # linking over the committed annotations
    ann = SnapshotTable(f"{out}/annotations", name="annotations").read(run.spark)
    with tr.span("linking"):
        t0 = time.perf_counter()
        links = link_entities(ann, candidates_df(run.spark)).count()
        L["linking.wall_s"] = time.perf_counter() - t0
    from pyspark.sql import functions as F
    named = (ann.select(F.explode("entities").alias("e"))
             .filter(F.col("e.named")).count())
    L["linking.linked_share"] = links / max(1, named)
    L["annotate.error_share"] = state["annotate_errors"] / max(1, len(expect))
    # tables
    con = duckdb.connect()
    raw_m = checks.latest_manifest(os.path.join(out, "triples_raw"))
    raw_rows = raw_m["total_rows"]
    spo_rows = state["rows"]
    L["canonicalize.dedup_ratio"] = spo_rows / max(1, raw_rows)
    import pyarrow as pa
    mentions = [(u, b, e, uri) for u, ms in truth["planted_mentions"].items()
                for b, e, _, uri in ms]
    planted = pa.table({"s": [uri for _, _, _, uri in mentions],
                        "o": [f"{u}#char={b},{e}" for u, b, e, _ in mentions]})
    con.register("planted", planted)
    found = con.execute(
        "SELECT count(*) FROM planted WHERE EXISTS (SELECT 1 FROM "
        + checks.scan(checks.latest_manifest(os.path.join(out, "triples")))
        + " t WHERE t.subject = planted.s AND t.object = planted.o AND "
        "t.predicate = 'http://groundedannotationframework.org/gaf#denotedBy')"
    ).fetchone()[0]
    L["linking.planted_recall"] = found / max(1, planted.num_rows)
    mention = con.execute(
        "SELECT avg(CASE WHEN component = 'mention' THEN 1.0 ELSE 0 END) FROM "
        + checks.scan(checks.latest_manifest(os.path.join(out, "triples")))).fetchone()[0]
    L["distill.mention_share"] = float(mention or 0)
    L["distill.triples_per_doc"] = raw_rows / max(1, len(expect))
    from pikes_spark.operators.canonicalize import build_sameas_edges
    L["canonicalize.edges"] = build_sameas_edges(
        run.spark.read.parquet(*raw_m["data_dirs"])).count()
    write_s, nbytes, nfiles = 0.0, 0, 0
    for t in ("annotations", "triples_raw", "triples", "triples_pos"):
        man = checks.latest_manifest(os.path.join(out, t))
        write_s += man["write_seconds"]
        for d in man["data_dirs"]:
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    nfiles += 1
                    nbytes += os.path.getsize(os.path.join(d, f))
    L.update({"tables.write_s": write_s, "tables.bytes_written": nbytes,
              "tables.files": nfiles})
    raw = SnapshotTable(f"{out}/triples_raw", name="triples_raw")
    with tr.span("tables.committed_urls"):
        t0 = time.perf_counter()
        raw.committed_urls(run.spark).count()
        L["tables.committed_urls_s"] = time.perf_counter() - t0
    spo = SnapshotTable(f"{out}/triples", ["subject", "predicate", "object"],
                        name="triples")
    with tr.span("tables.read"):
        t0 = time.perf_counter()
        spo.read(run.spark).write.format("noop").mode("overwrite").save()
        L["tables.read_s"] = time.perf_counter() - t0
    # kgquery: a short mix over the snapshot just built
    con.execute("CREATE VIEW t AS SELECT * FROM " + checks.scan(
        checks.latest_manifest(os.path.join(out, "triples"))))
    mix = itertools.islice(queries.query_stream(run.seed, queries.constants(con)), 25)
    comp, exe, per = [], [], {c: [] for c in queries.CLASSES}
    t_q0 = time.time()
    for cls, sparql, sql in mix:
        with tr.span(f"kgquery.{cls}"):
            c, e, rows = queries.run_query(kgquery, run.spark, out, cls, sparql)
        comp.append(1000 * c)
        exe.append(1000 * e)
        per[cls].append(1000 * (c + e))
        want = con.execute(sql).fetchone()[0]
        if rows != want:
            run.problems.append(f"traced {cls} query: {rows} rows, oracle {want}")
    run.info["query_interval"] = (t_q0, time.time(), len(comp))
    con.close()
    L["kgquery.compile_ms"] = statistics.median(comp)
    L["kgquery.exec_ms"] = statistics.median(exe)
    for cls, v in per.items():
        L[f"kgquery.{cls}.p50_ms"] = statistics.median(v)


# ---------------------------------------------------------------------------
# per-layer metrics (every workload reports every one; a layer the
# workload does not run reads 0)
# ---------------------------------------------------------------------------
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "pages.docs_in": "count", "pages.filtered_share": "ratio",
    "nlp.tokenize_ms": "ms/doc", "nlp.deps_ms": "ms/doc",
    "nlp.ner_timex_ms": "ms/doc", "nlp.srl_ms": "ms/doc",
    "nlp.coref_ms": "ms/doc", "framebase.map_ms": "ms/doc",
    "htmltext.extract_ms": "ms/doc",
    "stage.j1_annotate_s": "s", "stage.j3_distill_s": "s",
    "stage.j4_cc_plan_s": "s", "stage.j4_materialize_s": "s",
    "stage.j5_sorted_writes_s": "s", "stage.coverage": "ratio",
    "annotate.wall_s": "s", "annotate.executor_cpu_s": "s",
    "annotate.py_time_s": "s", "annotate.py_bytes_in": "B",
    "annotate.py_bytes_out": "B", "annotate.error_share": "ratio",
    "linking.wall_s": "s", "linking.linked_share": "ratio",
    "linking.planted_recall": "ratio",
    "distill.wall_s": "s", "distill.executor_cpu_s": "s",
    "distill.py_time_s": "s", "distill.py_bytes_in": "B",
    "distill.py_bytes_out": "B", "distill.triples_per_doc": "count",
    "distill.mention_share": "ratio", "distill.emit_calls_per_doc": "count",
    "distill.max_task_share": "ratio",
    "distill.rule.filter_ms": "ms/doc", "distill.rule.metadata_ms": "ms/doc",
    "distill.rule.timexes_ms": "ms/doc", "distill.rule.entities_ms": "ms/doc",
    "distill.rule.predicates_ms": "ms/doc", "distill.rule.corefs_ms": "ms/doc",
    "distill.rule.modifiers_ms": "ms/doc", "distill.rule.roles_ms": "ms/doc",
    "canonicalize.wall_s": "s", "canonicalize.edges": "count",
    "canonicalize.dedup_ratio": "ratio", "canonicalize.shuffle_bytes": "B",
    "canonicalize.spill_bytes": "B", "canonicalize.jobs": "count",
    "tables.write_s": "s", "tables.bytes_written": "B", "tables.files": "count",
    "tables.committed_urls_s": "s", "tables.read_s": "s",
    "kgquery.compile_ms": "ms", "kgquery.exec_ms": "ms",
    "kgquery.jobs_per_query": "count",
    "kgquery.describe.p50_ms": "ms", "kgquery.scan.p50_ms": "ms",
    "kgquery.two_hop.p50_ms": "ms", "kgquery.ask.p50_ms": "ms",
    "kgquery.construct.p50_ms": "ms",
    "dedup.lsh_s": "s", "dedup.pairs": "count", "dedup.planted_recall": "ratio",
    "similarity.semdedup_s": "s", "similarity.max_cluster_rows": "count",
    "similarity.peak_task_mem_mb": "MB",
    "spark.jobs": "count", "spark.tasks": "count", "spark.gc_s": "s",
    "memory.tree_peak_rss_mb": "MB", "memory.py_peak_rss_mb": "MB",
    "trace.unit_wall_s": "s",
}


def event_log_layers(run: Run) -> None:
    """Per-stage counters from the event log (read after the session
    stopped): stages attributed to J1-J5 by the last unit's stage
    intervals, query jobs by the query interval."""
    import tracing

    log = tracing.read_event_log(run.event_dir)
    L = run.layers
    iv = run.info.get("stage_intervals")
    if iv:
        span = {}
        for name, t0, t1 in iv:
            L[f"stage.{name}_s"] = t1 - t0
            span[name] = tracing.stage_sums(log, t0, t1)
        L["stage.coverage"] = sum(t1 - t0 for _, t0, t1 in iv) / run.info["last_unit_wall"]
        j1, j3 = span["j1_annotate"], span["j3_distill"]
        for key, s in (("annotate", j1), ("distill", j3)):
            for k in ("executor_cpu_s", "py_time_s", "py_bytes_in", "py_bytes_out"):
                L[f"{key}.{k}"] = s.get(k, 0.0)
        L["annotate.wall_s"] = L["stage.j1_annotate_s"]
        L["distill.wall_s"] = L["stage.j3_distill_s"]
        L["distill.max_task_share"] = j3.get("max_task_s", 0.0) / L["distill.wall_s"]
        j4 = [span["j4_cc_plan"], span["j4_materialize"]]
        L["canonicalize.wall_s"] = L["stage.j4_cc_plan_s"] + L["stage.j4_materialize_s"]
        for k in ("shuffle_bytes", "spill_bytes", "jobs"):
            L[f"canonicalize.{k}"] = sum(s.get(k, 0) for s in j4)
    if "query_interval" in run.info:
        t0, t1, n = run.info["query_interval"]
        L["kgquery.jobs_per_query"] = tracing.stage_sums(log, t0, t1)["jobs"] / n
    if "semdedup_interval" in run.info:
        t0, t1 = run.info["semdedup_interval"]
        L["similarity.peak_task_mem_mb"] = tracing.stage_sums(log, t0, t1).get(
            "peak_task_mem_mb", 0.0)
    whole = tracing.stage_sums(log, *run.info["last_unit_interval"])
    L["spark.jobs"] = whole.get("jobs", 0)
    L["spark.tasks"] = whole.get("tasks", 0)
    L["spark.gc_s"] = whole.get("gc_s", 0.0)


# ---------------------------------------------------------------------------
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output digest as the reference "
                         "for (workload, seed)")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    if run.trace:
        import tracing
        run.tracer = tracing.Tracer(f"{args.workload}-{args.seed}")
    try:
        with procstat.TreeSampler() as sampler:
            run.sampler = sampler
            t0 = time.perf_counter()
            run.spark = host.start_session(work, run.event_dir)
            # from the start of the supervising process (reaper.py)
            setup_s = host.process_age_s(os.getppid())
            run.layers["session.get_spark_s"] = time.perf_counter() - t0
            run.info["warm_executors"] = host.warm_ran(run.spark)
            run.info["cores"] = host.cores()
            run.info["jvm_heap_mb"] = host.heap_mb()
            try:
                WORKLOADS[args.workload](run)
            finally:
                host.stop_session(run.spark)
        if run.trace:
            event_log_layers(run)
            run.layers["trace.unit_wall_s"] = statistics.median(run.walls)
            run.tracer.write(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
        run.info["host_effective_cores"], run.info["host_core_s"] = host.host_probe(host.cores())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # memory is reported, not gated: see README.md
    run.info["peak_rss_mb"] = max(t for t, _ in run.rss) / 2**20
    run.info["py_peak_rss_mb"] = max(py for _, py in run.rss) / 2**20
    run.layers["memory.tree_peak_rss_mb"] = run.info["peak_rss_mb"]
    run.layers["memory.py_peak_rss_mb"] = run.info["py_peak_rss_mb"]
    if run.trace:
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_unit_s": {"value": run.first_unit_s, "unit": "s"},
            "wall_s": {"value": statistics.median(run.walls), "unit": "s"},
            "throughput": {"value": run.throughput, "unit": "1/s"},
            "cpu_s": {"value": statistics.median(run.cpus), "unit": "CPU-s"},
        }
    run.info["unit_walls_s"] = run.info["unit_walls_s"][:24]
    fail_share = run.failed / max(1, run.attempted)
    log(f"\n{args.workload} seed={args.seed} trace={args.trace} "
        f"measured_units={len(run.walls)} fail_share={fail_share:.4f} "
        f"({run.failed}/{run.attempted})")
    for k, v in sorted(run.info.items()):
        if not k.endswith("interval") and k != "stage_intervals":
            log(f"  {k:28s} {v}")
    for k, v in metrics.items():
        log(f"  {k:34s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps({"correct": not run.problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    if os.environ.get(reaper.CHILD_ENV) == "1":
        sys.exit(main())
    sys.exit(reaper.supervise([sys.executable] + sys.argv))
