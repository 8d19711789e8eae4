"""The generator's own test: the same seed gives byte-identical inputs,
another seed gives different ones, and the planted ground truth holds.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import filecmp
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same(a, b):
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False) for f in fa)


WRITERS = {
    "build": lambda d, s: gen.write_build_inputs(d, s, 60),
    "incremental": lambda d, s: gen.write_incremental_inputs(d, s, 60),
    "near_dup": lambda d, s: gen.write_near_dup_inputs(d, s, 200),
}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, write in WRITERS.items():
        a, b, c = (str(tmp_path / f"{name}-{k}") for k in "abc")
        write(a, 7)
        write(b, 7)
        write(c, 8)
        assert _same(a, b), name
        assert not _same(a, c), name


def test_build_corpus_shape_and_planted_mentions(tmp_path):
    truth = gen.write_build_inputs(str(tmp_path), 3, 100)
    langs = list(truth["langs"].values())
    texts = truth["pages"]
    assert sum(lang != "en" for lang in langs) == round(100 * gen.NON_EN_SHARE)
    assert sum(t == "" for t in texts.values()) >= 1
    assert sum(len(t) > gen.MAX_TEXT_LEN for t in texts.values()) == 1
    for url, mentions in truth["planted_mentions"].items():
        text = texts[url.rsplit("/", 1)[-1]]
        for begin, end, surface, uri in mentions:
            assert text[begin:end] == surface
            assert uri.startswith("http")


def test_near_dup_truth_is_exact(tmp_path):
    truth = gen.write_near_dup_inputs(str(tmp_path), 5, 200)
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(str(tmp_path), "documents.parquet"))
    text = dict(zip(docs.column("doc_id").to_pylist(),
                    docs.column("text").to_pylist()))
    assert truth["dup_pairs"], "no planted pairs"
    for a, b, j in truth["dup_pairs"]:
        assert a < b
        assert j == gen.jaccard_x1000(gen.shingles(text[a]), gen.shingles(text[b]))
        assert j >= gen.JACCARD_T1000
    # the skewed cluster holds its share of the rows
    labels = pq.read_table(os.path.join(str(tmp_path), "embeddings.parquet")
                           ).column("label").to_pylist()
    assert max(labels.count(g) for g in set(labels)) == truth["skew_rows"]
