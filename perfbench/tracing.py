"""Tracing for the per-layer run: spans kept in memory, wrappers around
the program's public layer functions, and the Spark event log.

Spans are (name, start, end, parent, run id). The wrappers are
installed from here, around functions of ``pikes_spark`` looked up by
module attribute, and removed again when the profile is done; nothing
inside the program changes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Tuple


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.self_time: Dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "run": self.run_id, "_child": 0.0})
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self._stack.pop()
            sp = self.spans[idx]
            sp["end"] = sp["start"] + dur
            self.self_time[name] += dur - sp.pop("_child")
            if parent is not None:
                self.spans[parent]["_child"] += dur

    def wrap(self, owner, attr: str, name: str, installed: list) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)
        installed.append((owner, attr, fn))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({k: v for k, v in sp.items()
                                     if not k.startswith("_")}) + "\n")


DISTILL_RULES = ["filter_stage", "process_metadata", "process_timexes",
                 "process_entities", "process_predicates", "process_corefs",
                 "process_modifiers", "process_roles"]


def profile_functions(tracer: Tracer, docs: List[Tuple[str, str, str]]
                      ) -> Dict[str, float]:
    """In-process CPU of the functions layer over ``docs`` (url, text,
    lang): html extraction, the NLP stages, the FrameBase mapping and
    each distill rule family. Returns ms/doc (self time) per layer and
    the distiller's emit calls per doc."""
    from pikes_spark.functions import framebase, htmltext, nlp, srl_merge
    from pikes_spark.operators import distill

    groups = {
        "nlp.tokenize_ms": [(nlp, "annotate_text")],
        "nlp.deps_ms": [(nlp, "parse_sentence_deps")],
        "nlp.ner_timex_ms": [(nlp, "extract_entities_timexes")],
        "nlp.srl_ms": [(nlp, "extract_predicates"),
                       (nlp, "extract_semafor_predicates"),
                       (srl_merge, "merge_srl_sources"),
                       (nlp, "srl_remove_wrong_refs"),
                       (nlp, "srl_self_arg_fixing")],
        "nlp.coref_ms": [(nlp, "extract_corefs")],
        "framebase.map_ms": [(framebase, "apply_framebase_mapping")],
    }
    for rule in DISTILL_RULES:
        key = rule.replace("process_", "").replace("_stage", "")
        groups[f"distill.rule.{key}_ms"] = [(distill.Distiller, rule)]
    installed: list = []
    for name, targets in groups.items():
        for owner, attr in targets:
            tracer.wrap(owner, attr, name, installed)
    emits = [0]
    orig_emit = distill.Distiller._emit

    def counting_emit(self, *a, **kw):
        emits[0] += 1
        return orig_emit(self, *a, **kw)

    distill.Distiller._emit = counting_emit
    try:
        for url, text, lang in docs:
            html = htmltext.wrap_html(text)
            with tracer.span("htmltext.extract_ms"):
                extracted = htmltext.extract_text(html)
            with tracer.span("functions.annotate_document"):
                doc = nlp.annotate_document(extracted)
            with tracer.span("functions.distill_document"):
                distill.distill_document(url, extracted, doc, lang)
    finally:
        distill.Distiller._emit = orig_emit
        for owner, attr, fn in reversed(installed):
            setattr(owner, attr, fn)
    n = max(1, len(docs))
    out = {name: 1000.0 * tracer.self_time[name] / n
           for name in list(groups) + ["htmltext.extract_ms"]}
    out["distill.emit_calls_per_doc"] = emits[0] / n
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"  # ms, summed over tasks


def read_event_log(evdir: str) -> dict:
    """Job start times, completed stages and per-task (peak execution
    memory, duration s) of the (finished) application log."""
    # Spark 4 writes rolling logs: a directory of events_<n>_<app> files
    files = sorted(f for f in glob.glob(os.path.join(evdir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(f)
                   and not os.path.basename(f).startswith("appstatus"))
    jobs, stages, tasks = [], {}, defaultdict(list)
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {}
                    for a in info.get("Accumulables", []):
                        try:
                            acc[a.get("Name")] = float(a.get("Value"))
                        except (TypeError, ValueError):
                            pass
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    stages[key] = {
                        "id": info["Stage ID"],
                        "start": info.get("Submission Time", 0) / 1000.0,
                        "tasks": info.get("Number of Tasks", 0),
                        "acc": acc}
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                    tasks[ev["Stage ID"]].append(
                        (m.get("Peak Execution Memory", 0), dur))
    return {"jobs": jobs, "stages": list(stages.values()), "tasks": tasks}


def stage_sums(log: dict, t0: float, t1: float) -> dict:
    """Counters summed over stages submitted in [t0, t1), jobs started
    in it, the largest per-task execution memory and the longest task."""
    out = defaultdict(float)
    for st in log["stages"]:
        if not (t0 <= st["start"] < t1):
            continue
        a = st["acc"]
        out["tasks"] += st["tasks"]
        out["executor_cpu_s"] += a.get("internal.metrics.executorCpuTime", 0) / 1e9
        out["gc_s"] += a.get("internal.metrics.jvmGCTime", 0) / 1e3
        out["shuffle_bytes"] += a.get("internal.metrics.shuffle.write.bytesWritten", 0)
        out["spill_bytes"] += (a.get("internal.metrics.diskBytesSpilled", 0)
                               + a.get("internal.metrics.memoryBytesSpilled", 0))
        out["py_bytes_in"] += a.get(PY_SENT, 0)
        out["py_bytes_out"] += a.get(PY_RECV, 0)
        out["py_time_s"] += a.get(PY_TIME, 0) / 1e3
        tasks = log["tasks"].get(st["id"], [])
        peak = max((m for m, _ in tasks), default=0)
        out["peak_task_mem_mb"] = max(out["peak_task_mem_mb"], peak / 2**20)
        out["max_task_s"] = max([out["max_task_s"]] + [d for _, d in tasks])
    out["jobs"] = sum(1 for t in log["jobs"] if t0 <= t < t1)
    return dict(out)


def stage_intervals(t_call: float, timings: Dict[str, float]
                    ) -> List[Tuple[str, float, float]]:
    """(stage, start, end) of each pipeline stage from the durations
    ``run_pipeline`` returns (in the order it marks them)."""
    out, t = [], t_call
    for name, dur in timings.items():
        out.append((name, t, t + dur))
        t += dur
    return out
