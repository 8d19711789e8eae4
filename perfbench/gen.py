"""Seeded input generator for the KG-construction benchmark.

Every input is built from material that ships with the repository: the
gold mini-corpus sentences (``pikes_spark/sources/gold.py``), the
entity-linking surfaces of ``pikes_spark/resources/el_base.tsv``, the
sentence templates below, and date / money / percentage patterns. The
program only ever sees the written ``documents.parquet`` /
``embeddings.parquet`` directory; the ground truth (planted entity
mentions, planted duplicate pairs) is written beside it as JSON and is
read by the benchmark's checks only.

Same seed -> byte-identical files. The page-length profile is a fixed
multiset and the entity ranks are fixed, so the amount of work is nearly
the same for every seed and only the content changes.
"""

from __future__ import annotations

import json
import math
import os
import random
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EL_BASE = os.path.join(ROOT, "pikes_spark", "resources", "el_base.tsv")

# Over-length guard of the program (functions.htmltext.MAX_TEXT_LEN).
MAX_TEXT_LEN = 1_000_000

ACRONYMS = {"un", "eu", "imf", "who", "cia", "fbi", "nasa", "mit", "bbc",
            "cnn", "ibm", "usa", "hiv", "aids", "isis", "nato", "uefa",
            "fifa", "unesco", "unicef"}
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
NUMBER_WORDS = ["two", "three", "five", "ten", "twenty", "forty"]

# {E} entity, {D} date, {M} money, {Y} year, {P} percentage, {N} number word
TEMPLATES = [
    "{E} visited {E} on {D}.",
    "{E} met {E} in {E} in {D}.",
    "{E}, the president of {E}, announced a new aid program for {E}.",
    "The project cost {M} and reached {P} of the target.",
    "{E} signed a new agreement with {E} in {Y}.",
    "{E} became president of {E} in {Y}.",
    "{E} and {E} are very strong supporters of the fight against {E}.",
    "It cost {M}.",
    "{E} paid {M} to {E} on {D}.",
    "He met {E} in {E} for {N} weeks.",
    "They announced the deal in {D}.",
    "{E} hopes to isolate {E} to prevent it from inheriting {E}.",
    "{E} plans to blacklist {E} as a terrorist organization.",
    "The leaders of {E} said {E} has contributed {N} fighters and weapons.",
    "{E} sold {P} of its shares to {E} for {M} in {Y}.",
    "Officials in {E} say the talks with {E} will resume in {D}.",
]

FOREIGN = {
    "de": ["Der Präsident besuchte die Hauptstadt am Montag.",
           "Die Regierung kündigte ein neues Hilfsprogramm an.",
           "Im März trafen sich die Minister in der Stadt."],
    "fr": ["Le président a visité la capitale lundi.",
           "Le gouvernement a annoncé un nouveau programme d'aide.",
           "Les ministres se sont réunis en mars."],
    "es": ["El presidente visitó la capital el lunes.",
           "El gobierno anunció un nuevo programa de ayuda.",
           "Los ministros se reunieron en marzo."],
    "zh": ["总统星期一访问了首都。", "政府宣布了一项新的援助计划。",
           "部长们三月份在该市会面。"],
}

# Share of pages by kind (bulk / base corpora); the rest are English
# pages with entities.
NON_EN_SHARE = 0.10
EMPTY_SHARE = 0.02
# English page lengths, in sentences: 1 + a log-normal quantile grid.
# The median page (3-4 sentences, ~210-235 chars) is near the ~300-char
# median of the sf0.1 ``documents`` corpus; the top page is 2.2-2.5 KB.
LEN_MU = 1.0
LEN_SIGMA = 1.0
# Zipf exponent of entity frequency (over a fixed rank order).
ZIPF_S = 1.1
# near_dup_pages: the skewed cluster's share of rows, and the other
# planted clusters.
SKEW_SHARE = 0.2
N_CLUSTERS = 30
CLUSTER_SIZE = 4
# incremental_ingest: delta pages as a share of the base corpus.
DELTA_SHARE = 0.05


# ---------------------------------------------------------------------------
# material
# ---------------------------------------------------------------------------
def load_entities() -> List[Tuple[str, str]]:
    """(surface, uri) rows of el_base.tsv, first occurrence of each pair."""
    seen, rows = set(), []
    with open(EL_BASE, encoding="utf-8") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if len(parts) < 2 or not parts[0] or (parts[0], parts[1]) in seen:
                continue
            seen.add((parts[0], parts[1]))
            rows.append((parts[0], parts[1]))
    return rows


def gold_sentences() -> List[str]:
    from pikes_spark.sources.gold import GOLD_PAGES
    out = []
    for _, text in GOLD_PAGES:
        for s in text.replace(". ", ".\n").split("\n"):
            if s.strip():
                out.append(s.strip())
    return out


def render_surface(surface: str) -> str:
    return surface.upper() if surface in ACRONYMS else surface.title()


def page_lengths(rng: random.Random, n: int) -> List[int]:
    """Sentence counts of ``n`` English pages: the midpoints of n
    equal-probability strata of the log-normal, in seeded order. The
    multiset is the same for every seed."""
    from statistics import NormalDist
    nd = NormalDist(LEN_MU, LEN_SIGMA)
    vals = [1 + int(math.exp(nd.inv_cdf((i + 0.5) / n))) for i in range(n)]
    rng.shuffle(vals)
    return vals


class TextMaker:
    """Fills templates; records each planted entity mention.

    Sentences are dealt from a shuffled deck in which every gold sentence
    appears once and every template three times, and the Zipf rank of
    each entity is fixed: the seed decides which sentence and entity go
    where, not how much of each kind a corpus holds, so the work per
    corpus barely moves between seeds."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        ents = load_entities()
        random.Random("entity-rank").shuffle(ents)
        self.entities = ents
        w = [1.0 / (r + 1) ** ZIPF_S for r in range(len(ents))]
        tot = sum(w)
        self.cum = list(np.cumsum([x / tot for x in w]))
        self.gold = gold_sentences()
        self._deck: List[str] = []
        self._templates: List[str] = []

    def _deal(self, restrict) -> str:
        """Next sentence kind: a gold sentence or a template."""
        deck = self._templates if restrict else self._deck
        if not deck:
            deck.extend(TEMPLATES * 3 + ([] if restrict else self.gold))
            self.rng.shuffle(deck)
        return deck.pop()

    def entity(self, restrict: List[Tuple[str, str]] | None = None):
        if restrict:
            return self.rng.choice(restrict)
        i = int(np.searchsorted(self.cum, self.rng.random()))
        return self.entities[min(i, len(self.entities) - 1)]

    def date(self) -> str:
        r, y = self.rng.random(), self.rng.randint(1990, 2024)
        m, d = self.rng.randint(1, 12), self.rng.randint(1, 28)
        if r < 0.4:
            return f"{y}-{m:02d}-{d:02d}"
        if r < 0.7:
            return f"{MONTHS[m - 1]} {y}"
        return f"{MONTHS[m - 1]} {d}, {y}"

    def money(self) -> str:
        n = self.rng.choice([3, 5, 12, 40, 250, 300])
        unit = self.rng.choice(["million", "billion"])
        return (f"${n} {unit}" if self.rng.random() < 0.5
                else f"{n} {unit} dollars")

    def sentence(self, start: int, mentions: list,
                 restrict: List[Tuple[str, str]] | None = None) -> str:
        """One sentence beginning at char offset ``start`` of its page."""
        tmpl = self._deal(restrict)
        out, i = [], 0
        while i < len(tmpl):
            if tmpl[i] == "{":
                key = tmpl[i + 1]
                i += 3
                if key == "E":
                    surface, uri = self.entity(restrict)
                    text = render_surface(surface)
                    pos = start + sum(len(x) for x in out)
                    mentions.append([pos, pos + len(text), text, uri])
                elif key == "D":
                    text = self.date()
                elif key == "M":
                    text = self.money()
                elif key == "Y":
                    text = str(self.rng.randint(1990, 2024))
                elif key == "P":
                    text = f"{self.rng.randint(2, 95)} percent"
                else:
                    text = self.rng.choice(NUMBER_WORDS)
                out.append(text)
            else:
                out.append(tmpl[i])
                i += 1
        return "".join(out)

    def page(self, n_sent: int, restrict=None) -> Tuple[str, list]:
        mentions: list = []
        parts: List[str] = []
        pos = 0
        for k in range(n_sent):
            if k:
                sep = "\n\n" if self.rng.random() < 0.15 else " "
                parts.append(sep)
                pos += len(sep)
            s = self.sentence(pos, mentions, restrict)
            parts.append(s)
            pos += len(s)
        return "".join(parts), mentions


# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def _write_docs(path: str, docs: List[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = pa.Table.from_pylist(
        [dict(d, n_chars=len(d["text"])) for d in docs], schema=DOC_SCHEMA)
    pq.write_table(t, path, compression="zstd")


def page_corpus(rng: random.Random, maker: TextMaker, n_pages: int,
                first_id: int, over_length: int
                ) -> Tuple[List[dict], Dict[str, list]]:
    """Entity-rich pages with a long-tailed length profile plus a fixed
    share of non-English, empty and over-length pages. Returns
    (documents, planted mentions per url)."""
    n_foreign = round(n_pages * NON_EN_SHARE)
    n_empty = max(1, round(n_pages * EMPTY_SHARE))
    n_en = n_pages - n_foreign - n_empty - over_length
    lengths = page_lengths(rng, n_en)
    kinds = (["en"] * n_en + ["foreign"] * n_foreign + ["empty"] * n_empty
             + ["long"] * over_length)
    rng.shuffle(kinds)
    docs, planted = [], {}
    li = 0
    for k, kind in enumerate(kinds):
        doc_id = first_id + k
        if kind == "en":
            text, mentions = maker.page(lengths[li])
            li += 1
            planted[f"http://example.org/doc/{doc_id}"] = mentions
            lang = "en"
        elif kind == "foreign":
            lang = rng.choice(sorted(FOREIGN))
            text = " ".join(rng.choice(FOREIGN[lang])
                            for _ in range(rng.randint(1, 6)))
        elif kind == "empty":
            text, lang = "", "en"
        else:
            text, _ = maker.page(8)
            text = (text + " ") * (MAX_TEXT_LEN // (len(text) + 1) + 2)
            lang = "en"
        docs.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": f"perfbench:{kind}"})
    return docs, planted


def write_build_inputs(out_dir: str, seed: int, n_pages: int,
                       over_length: int = 1) -> dict:
    """bulk_build / graph_query inputs: one page corpus."""
    rng = random.Random(f"build:{seed}")
    maker = TextMaker(rng)
    docs, planted = page_corpus(rng, maker, n_pages, 0, over_length)
    _write_docs(os.path.join(out_dir, "documents.parquet"), docs)
    truth = {"pages": {str(d["doc_id"]): d["text"] for d in docs},
             "langs": {str(d["doc_id"]): d["lang"] for d in docs},
             "planted_mentions": planted}
    _dump(out_dir, truth)
    return truth


def write_incremental_inputs(out_dir: str, seed: int, n_base: int) -> dict:
    """Base corpus in ``base/``; base + delta in ``full/``. The delta
    pages are short and mention only entities planted in the base."""
    rng = random.Random(f"incremental:{seed}")
    maker = TextMaker(rng)
    base, planted = page_corpus(rng, maker, n_base, 0, over_length=0)
    known = sorted({(m[2].lower(), m[3]) for ms in planted.values()
                    for m in ms})
    n_delta = max(1, round(n_base * DELTA_SHARE))
    delta, planted_d = [], {}
    for k in range(n_delta):
        doc_id = n_base + k
        text, mentions = maker.page(rng.randint(1, 3), restrict=known)
        delta.append({"doc_id": doc_id, "text": text, "lang": "en",
                      "source": "perfbench:delta"})
        planted_d[f"http://example.org/doc/{doc_id}"] = mentions
    _write_docs(os.path.join(out_dir, "base", "documents.parquet"), base)
    _write_docs(os.path.join(out_dir, "full", "documents.parquet"),
                base + delta)
    all_docs = base + delta
    truth = {"pages": {str(d["doc_id"]): d["text"] for d in all_docs},
             "langs": {str(d["doc_id"]): d["lang"] for d in all_docs},
             "planted_mentions": {**planted, **planted_d}}
    _dump(out_dir, truth)
    return truth


# ---------------------------------------------------------------------------
# near-duplicate pages + embeddings
# ---------------------------------------------------------------------------
NGRAM = 3
JACCARD_T1000 = 800
EMB_DIM = 64
KM_SCALE = 1_000_000
SD_THETA2 = 1_300_000_000_000


def shingles(text: str) -> set:
    """Distinct word 3-grams, normalized as dedup.shingle_df does."""
    toks = " ".join(text.strip().lower().split()).split(" ")
    if len(toks) < NGRAM:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + NGRAM]) for i in range(len(toks) - NGRAM + 1)}


def jaccard_x1000(a: set, b: set) -> int:
    i = len(a & b)
    return (i * 1000) // (len(a) + len(b) - i)


EDIT_WORDS = ["very", "new", "major", "local", "recent", "strong", "early",
              "final"]


def _mutate(rng: random.Random, words: List[str]) -> List[str]:
    """Replace one word by a different one: at most 3 of the ~100
    shingles change, so every pair in a cluster stays well above the
    0.8 threshold and the pair count is the same for every seed."""
    out = list(words)
    pos = rng.randrange(len(out))
    out[pos] = rng.choice([w for w in EDIT_WORDS if w != out[pos]])
    return out


def int_vecs(emb: np.ndarray) -> np.ndarray:
    """The program's fixed-point grid: floor(float32 -> double * 1e6)."""
    return np.floor(emb.astype(np.float32).astype(np.float64)
                    * KM_SCALE).astype(np.int64)


def write_near_dup_inputs(out_dir: str, seed: int, n_docs: int) -> dict:
    """Pages and embeddings with planted near-duplicate clusters; one
    cluster holds ``SKEW_SHARE`` of the rows (the skewed block).

    Ground truth: every pair of pages inside a planted cluster whose
    exact word-3-gram Jaccard is >= 0.8, and every embedding pair inside
    a cluster closer than the semdedup threshold. (The check recomputes
    the Jaccard of every reported pair, so a real pair outside the
    clusters is accepted too.)"""
    rng = random.Random(f"near_dup:{seed}")
    maker = TextMaker(rng)
    n_skew = int(n_docs * SKEW_SHARE)
    sizes = [n_skew] + [CLUSTER_SIZE] * N_CLUSTERS
    n_single = n_docs - sum(sizes)
    groups: List[List[str]] = []
    for size in sizes:
        words = maker.page(12)[0].split()
        groups.append([" ".join(words)] + [
            " ".join(_mutate(rng, words)) for _ in range(size - 1)])
    for _ in range(n_single):
        groups.append([maker.page(rng.randint(4, 12))[0]])
    rng.shuffle(groups)
    # ids are assigned in shuffled row order so a cluster is scattered
    flat = [(g, t) for g, ts in enumerate(groups) for t in ts]
    order = list(range(len(flat)))
    rng.shuffle(order)
    docs, group_of = [], {}
    for doc_id, idx in enumerate(order):
        g, text = flat[idx]
        docs.append({"doc_id": doc_id, "text": text, "lang": "en",
                     "source": "perfbench:near_dup"})
        group_of[doc_id] = g
    members: Dict[int, List[int]] = {}
    for d, g in group_of.items():
        members.setdefault(g, []).append(d)
    sh = {d["doc_id"]: shingles(d["text"]) for d in docs}
    pairs = []
    for ids in members.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                j = jaccard_x1000(sh[a], sh[b])
                if j >= JACCARD_T1000:
                    pairs.append([a, b, j])
    pairs.sort()
    _write_docs(os.path.join(out_dir, "documents.parquet"), docs)

    # embeddings: one vector per page; planted groups are tight copies
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(0.0, 1.0, size=(len(groups), EMB_DIM))
    emb = np.empty((len(docs), EMB_DIM), dtype=np.float32)
    for d, g in group_of.items():
        emb[d] = centers[g] + nrng.normal(0.0, 0.01, size=EMB_DIM)
    emb_t = pa.table({
        "vec_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array([group_of[d] for d in range(len(docs))],
                          type=pa.int32())})
    pq.write_table(emb_t, os.path.join(out_dir, "embeddings.parquet"),
                   compression="zstd")
    V = int_vecs(emb)
    vec_pairs = []
    for ids in members.values():
        if len(ids) < 2:
            continue
        sub = V[ids]
        G = sub @ sub.T
        sq = np.diag(G)
        d2 = sq[:, None] + sq[None, :] - 2 * G
        ii, jj = np.nonzero(np.triu(d2 <= SD_THETA2, k=1))
        vec_pairs.extend([ids[i], ids[j]] for i, j in zip(ii, jj))
    vec_pairs.sort()
    truth = {"dup_pairs": pairs, "vec_pairs": vec_pairs, "skew_rows": n_skew}
    _dump(out_dir, truth)
    return truth


def _dump(out_dir: str, truth: dict) -> None:
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
