"""J1 annotate + J3 distill Spark operators (mapInPandas).

pages -> annotations (nested NAF-equivalent layers) -> triples.

Idiomatic-Spark notes:
- ``mapInPandas`` with Arrow batches: the per-document rule models run
  vectorized per batch; heavyweight resources (gazetteers, rolesets)
  are module-level singletons loaded once per Python worker — the
  executor-global pattern the reference uses for its interned
  PropBank/PredicateMatrix singletons (PropBank.java:23-60).
- The length guard + language filter are plain Catalyst filters and
  push down to the parquet/Iceberg scan.
- Per-document cost varies with text length. Hash-partition on the
  unique ``url`` to even out batches (SURVEY.md §4 skew note);
  range-partitioning on ``length(text)`` was measured worse, because
  lengths cluster and the ranges skew (pipeline.py, resume path).
- Error isolation: per-row try/except, failures emitted to an error
  side-channel column (reference catches per document,
  RDFGenerator.java:419-423).
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..functions.htmltext import MAX_TEXT_LEN, extract_text
from ..functions.nlp import annotate_document
from .canonicalize import broadcast_if_small
from .distill import Distiller, distill_document  # noqa: F401 (distill_document re-exported)

# FIXTURES.md §2 annotations schema
ANNOTATIONS_SCHEMA = """
    url string, lang string, text string, error string,
    sentences array<struct<sent:int, begin:int, end:int>>,
    tokens array<struct<id:int, sent:int, begin:int, len:int, form:string>>,
    terms array<struct<id:int, lemma:string, pos:string, morphofeat:string,
                       upos:string, wf_ids:array<int>,
                       refs:array<struct<resource:string, reference:string,
                                         confidence:double, source:string>>>>,
    deps array<struct<from:int, to:int, rfunc:string>>,
    entities array<struct<id:string, type:string, named:boolean,
                          term_ids:array<int>,
                          refs:array<struct<resource:string, reference:string,
                                            confidence:double>>>>,
    timexes array<struct<id:string, type:string, value:string, wf_ids:array<int>>>,
    predicates array<struct<id:string, source:string, term_ids:array<int>,
                            head_id:int, factuality:string,
                            refs:array<struct<resource:string, reference:string,
                                              confidence:double, source:string>>,
                            roles:array<struct<sem_role:string, term_ids:array<int>,
                                               head_id:int,
                                               refs:array<struct<resource:string,
                                                                 reference:string>>>>>>,
    corefs array<struct<id:string, spans:array<struct<ids:array<int>>>>>
"""
# NOTE: coref spans are array<struct<ids:...>> not array<array<int>>:
# pyarrow 16 segfaults converting list-of-list columns to pandas.

TRIPLES_SCHEMA = """
    url string, subject string, predicate string, object string,
    graph string, component string, sent int,
    mention_begin int, mention_end int, conf double,
    object_is_literal boolean, object_datatype string
"""


def _extract_batch(htmls: pd.Series) -> List[str]:
    return [extract_text(h if h is not None else b"") for h in htmls]


def extract_pages_text(pages: DataFrame) -> DataFrame:
    """N1: html -> extracted text (byte-identical invariant vs the
    ``text`` oracle column). Vectorized Arrow UDF."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _udf(h: pd.Series) -> pd.Series:
        return pd.Series(_extract_batch(h))

    return pages.withColumn("extracted_text", _udf(F.col("html")))


def _row_annotations(url: str, lang: str, text: str) -> dict:
    doc = annotate_document(text)
    return {
        "url": url, "lang": lang, "text": text, "error": None,
        "sentences": doc["sentences"], "tokens": doc["tokens"],
        "terms": doc["terms"], "deps": doc["deps"],
        "entities": doc["entities"], "timexes": doc["timexes"],
        "predicates": doc["predicates"],
        "corefs": [{"id": c["id"], "spans": [{"ids": s} for s in c["spans"]]}
                   for c in doc["corefs"]],
    }


def annotate_pages(pages: DataFrame, from_html: bool = True,
                   pos_model_npz: str | None = None) -> DataFrame:
    """pages -> annotations. Language/length guards are Catalyst
    filters (pushed down); the NLP stack runs inside mapInPandas.

    ``pos_model_npz``: optional path to a NumpyTagger artifact
    (scripts/train_slot_tagger.py). The PATH is what the closure
    captures — each Python worker loads the model ONCE on its first
    batch and registers it in its own process (the per-worker
    singleton the model-slot contract promises; driver-side
    register_tagger() cannot reach executor workers)."""
    filtered = (pages
                .filter(F.col("lang") == "en")
                .filter(F.length("text") > 0)
                .filter(F.length("text") <= MAX_TEXT_LEN))

    use_html = from_html
    model_path = pos_model_npz

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pikes_spark.functions import model_slot
        active = model_slot.active_tagger()
        if model_path is not None:
            if getattr(active, "_src", None) != model_path:
                tagger = model_slot.NumpyTagger(model_path)
                tagger._src = model_path
                model_slot.register_tagger(tagger)
        elif getattr(active, "_src", None) is not None:
            # reused worker with a stale closure-registered model:
            # restore the rule default for model-less jobs
            model_slot.register_tagger(None)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                text = extract_text(r.html) if use_html else r.text
                try:
                    rows.append(_row_annotations(r.url, r.lang, text))
                except Exception as exc:  # error isolation per document
                    rows.append({"url": r.url, "lang": r.lang, "text": text,
                                 "error": repr(exc)[:500], "sentences": [],
                                 "tokens": [], "terms": [], "deps": [],
                                 "entities": [], "timexes": [],
                                 "predicates": [], "corefs": []})
            yield pd.DataFrame(rows)

    cols = ["url", "lang", "html", "text"] if use_html else ["url", "lang", "text"]
    return filtered.select(*cols).mapInPandas(gen, ANNOTATIONS_SCHEMA)


def annotations_to_naf(annotations: DataFrame) -> DataFrame:
    """S2's optional debug dump (SURVEY §2.1): one NAF v3 XML document
    per annotated page (functions/naf_xml.doc_to_naf — the reference's
    ReadWriteManager.java:1918-2400 layer layout). Output: (url, naf).
    mapInArrow for the same reason as distill_annotations: pyarrow's
    to_pandas can crash on Spark-produced chunked nested columns;
    RecordBatch.to_pylist is safe and the serializer wants dicts."""
    import pyarrow as pa

    from pikes_spark.functions.naf_xml import doc_to_naf

    out_schema = pa.schema([("url", pa.string()), ("naf", pa.string())])

    def gen(batches):
        for batch in batches:
            rows = [{"url": r["url"], "naf": doc_to_naf(r)}
                    for r in batch.to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return annotations.mapInArrow(gen, "url string, naf string")


def distill_annotations(annotations: DataFrame,
                        links: DataFrame | None = None,
                        emit_opinions: bool = False) -> DataFrame:
    """annotations (+ optional per-url entity links) -> triple rows.

    ``links`` schema: url, begin, end, uri, score — the output of
    operators.linking; they are grouped per url and merged into the
    matching entity's refs before distillation (linkingCompletion F5,
    NAFFilter.java:667-750)."""
    ann = annotations
    if links is not None:
        # materialize the per-url link lists once, then decide the join
        # side from their measured payload (broadcast_if_small, the size
        # rule canonicalize uses): broadcasting keeps the fat nested
        # annotation rows out of any exchange (measured 2x on the
        # distill stage — the SMJ shuffled every annotation row to meet
        # a KB-sized link table), while a corpus-scale link table (the
        # 100 TB case) falls back to the co-partitioned shuffle join.
        grouped = (links.groupBy("url")
                   .agg(F.collect_list(F.struct("begin", "end", "uri", "score"))
                        .alias("_links"))
                   .localCheckpoint())
        # UTF-8 bytes of url and uris + 16 per link for begin/end/score
        link_bytes = F.aggregate(
            "_links", F.lit(0),
            lambda acc, lk: acc + F.octet_length(lk["uri"]) + 16)
        payload = grouped.agg(F.coalesce(
            F.sum(F.octet_length("url") + link_bytes), F.lit(0))
        ).collect()[0][0]
        ann = ann.join(broadcast_if_small(grouped, payload), "url", "left")
    else:
        ann = ann.withColumn("_links", F.lit(None).cast(
            "array<struct<begin:int,end:int,uri:string,score:double>>"))

    # NOTE: mapInArrow, not mapInPandas — pyarrow 16's to_pandas segfaults
    # on Spark-produced chunked nested (list<struct<list>>) columns;
    # RecordBatch.to_pylist is safe and the distiller wants dicts anyway.
    import pyarrow as pa
    from pyspark.sql.types import StructType, _parse_datatype_string
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(_parse_datatype_string(TRIPLES_SCHEMA))
    out_cols = [f.name for f in out_schema]

    def gen(batches):
        for batch in batches:
            out: List[dict] = []
            for r in batch.to_pylist():
                if r.get("error"):
                    continue
                doc = {
                    "sentences": r["sentences"] or [], "tokens": r["tokens"] or [],
                    "terms": r["terms"] or [], "deps": r["deps"] or [],
                    "entities": [dict(e) for e in r["entities"] or []],
                    "timexes": r["timexes"] or [],
                    "predicates": r["predicates"] or [],
                    "corefs": [{"id": c["id"],
                                "spans": [list(s["ids"]) for s in c["spans"] or []]}
                               for c in r["corefs"] or []],
                    "linked": [],
                }
                _merge_links(doc, r.get("_links") or [])
                try:
                    out.extend(Distiller(
                        r["url"], r["text"], doc, r["lang"],
                        emit_opinions=emit_opinions).run())
                except Exception:
                    continue
            yield pa.RecordBatch.from_pylist(out, schema=out_schema)

    return ann.mapInArrow(gen, TRIPLES_SCHEMA)


def _merge_links(doc: dict, links: List[dict]) -> None:
    """linkingCompletion (F5, NAFFilter.java:667-750): attach the best
    link whose char span matches an entity span to that entity's refs;
    a link matching NO entity creates a new entity over its span
    (:699-721); entity links are copied onto predicates sharing the
    head term (:723-750) so the SRL layer carries them too."""
    if not links:
        return
    tokens = doc["tokens"]
    matched: set = set()
    for ent in doc["entities"]:
        tids = sorted(ent["term_ids"])
        if not tids:
            continue
        b = tokens[tids[0]]["begin"]
        e = tokens[tids[-1]]["begin"] + tokens[tids[-1]]["len"]
        refs = list(ent.get("refs") or [])
        for li, lk in enumerate(links):
            if lk and lk.get("begin") == b and lk.get("end") == e:
                refs.append({"resource": "dbpedia", "reference": lk["uri"],
                             "confidence": float(lk.get("score") or 0.0)})
                matched.add(li)
        ent["refs"] = refs
    # F5b: unmatched links become new (named) entities over their span
    for li, lk in enumerate(links):
        if li in matched or not lk:
            continue
        span = [t["id"] for t in tokens
                if lk["begin"] <= t["begin"]
                and t["begin"] + t["len"] <= lk["end"]]
        if span:
            doc["entities"].append({
                "id": f"lnk{li}", "type": None, "named": True,
                "term_ids": span,
                "refs": [{"resource": "dbpedia", "reference": lk["uri"],
                          "confidence": float(lk.get("score") or 0.0)}]})
    # F5c: copy entity links onto predicates anchored at the same head
    ent_refs_by_tid = {}
    for ent in doc["entities"]:
        db = [r for r in ent.get("refs") or []
              if (r.get("resource") or "").lower() == "dbpedia"]
        if db:
            for t in ent["term_ids"]:
                ent_refs_by_tid.setdefault(t, []).extend(db)
    for pred in doc.get("predicates", []):
        head = pred.get("head_id")
        for r in ent_refs_by_tid.get(head, []):
            refs = pred.setdefault("refs", [])
            if not any((x.get("resource") or "").lower() == "dbpedia"
                       and x.get("reference") == r["reference"]
                       for x in refs):
                refs.append({"resource": "dbpedia",
                             "reference": r["reference"],
                             "confidence": r.get("confidence"),
                             "source": "f5"})
    # F16 srlRoleLinking with coref expansion (NAFFilter.java:1462-1483
    # + linkEntitiesTimexPredicates, srlRoleLinkingUsingCoref=true
    # default): each SRL role carries the DBpedia refs of its argument
    # head's entity AND of the head's coreference mates
    coref_mates: dict = {}
    for co in doc.get("corefs", []):
        all_tids = [t for sp in co["spans"] for t in sp]
        for sp in co["spans"]:
            for t in sp:
                coref_mates.setdefault(t, set()).update(all_tids)
    for pred in doc.get("predicates", []):
        for role in pred.get("roles") or []:
            rh = role.get("head_id")
            if rh is None:
                continue
            linkable = {rh} | coref_mates.get(rh, set())
            refs = role.setdefault("refs", [])
            for t in sorted(linkable):
                for r in ent_refs_by_tid.get(t, []):
                    if not any((x.get("resource") or "").lower() == "dbpedia"
                               and x.get("reference") == r["reference"]
                               for x in refs):
                        refs.append({"resource": "dbpedia",
                                     "reference": r["reference"]})


def pages_to_triples(pages: DataFrame, links: DataFrame | None = None,
                     from_html: bool = True) -> DataFrame:
    return distill_annotations(annotate_pages(pages, from_html=from_html), links)
