"""Output checks and order-independent digests (DuckDB over the
committed parquet files, so no check runs through the Spark code under
test).

A digest is (row count, sum of 64-bit row hashes mod 2^64) — equal for
equal multisets of rows whatever their order or file layout. Every
column also gets its own digest, so a column that is not deterministic
from run to run can be named.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Dict, List, Tuple

import duckdb

SPO_KEY = ["subject", "predicate", "object", "graph", "url"]
MASK = (1 << 64) - 1


def latest_manifest(table_root: str) -> dict:
    metas = sorted(glob.glob(os.path.join(table_root, "meta", "snapshot-*.json")))
    if not metas:
        raise ValueError(f"no committed snapshot under {table_root}")
    with open(metas[-1]) as fh:
        return json.load(fh)


def scan(manifest: dict) -> str:
    files = [f for d in manifest["data_dirs"]
             for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]
    if not files:
        return "(SELECT NULL WHERE FALSE)"
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def digest(con, relation: str, columns: List[str]) -> Dict[str, str]:
    """{'*': digest of whole rows, column: digest of that column}."""
    exprs = [f"sum(hash({', '.join(columns)})::HUGEINT)"]
    exprs += [f"sum(hash({c})::HUGEINT)" for c in columns]
    row = con.execute(f"SELECT count(*), {', '.join(exprs)} FROM {relation}"
                      ).fetchone()
    n = row[0]
    out = {"*": f"{n}:{int(row[1] or 0) & MASK:016x}"}
    for c, v in zip(columns, row[2:]):
        out[c] = f"{n}:{int(v or 0) & MASK:016x}"
    return out


def differing(a: Dict[str, str], b: Dict[str, str]) -> List[str]:
    return sorted(k for k in a if k != "*" and a.get(k) != b.get(k))


def check_build(out_root: str, truth: dict, gold_urls: List[str],
                expect_urls: List[str]) -> Tuple[List[str], dict]:
    """Checks of one committed build. Returns (problems, info) where
    info carries the spo digest and row counts."""
    problems: List[str] = []
    con = duckdb.connect()
    spo_m = latest_manifest(os.path.join(out_root, "triples"))
    pos_m = latest_manifest(os.path.join(out_root, "triples_pos"))
    spo, pos = scan(spo_m), scan(pos_m)
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {spo}").fetchall()]
    cols.sort()
    d_spo = digest(con, spo, cols)
    d_pos = digest(con, pos, cols)
    if d_spo["*"] != d_pos["*"]:
        problems.append(f"spo and pos differ in columns {differing(d_spo, d_pos)}")
    dups = con.execute(
        f"SELECT count(*) FROM (SELECT {', '.join(SPO_KEY)} FROM {spo} "
        f"GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    if dups:
        problems.append(f"{dups} (s,p,o,graph,url) rows appear more than once")
    # extracted text vs generated text, for every English page kept
    ann = scan(latest_manifest(os.path.join(out_root, "annotations")))
    got = dict(con.execute(f"SELECT url, text FROM {ann}").fetchall())
    errors = con.execute(
        f"SELECT count(*) FROM {ann} WHERE error IS NOT NULL").fetchone()[0]
    pages = truth["pages"]
    want = set(expect_urls) | set(gold_urls)
    missing = want - set(got)
    extra = set(got) - want
    if missing or extra:
        problems.append(f"annotated urls: {len(missing)} missing, "
                        f"{len(extra)} unexpected")
    bad_text = [u for u in expect_urls if u in got
                and got[u] != pages[u.rsplit("/", 1)[-1]]]
    if bad_text:
        problems.append(f"extracted text differs on {len(bad_text)} pages, "
                        f"e.g. {bad_text[0]}")
    info = {"digest": d_spo, "rows": spo_m["total_rows"],
            "annotate_errors": errors}
    con.close()
    return problems, info


def expected_urls(truth: dict, max_len: int) -> List[str]:
    """Pages the language and length guards keep."""
    return sorted(f"http://example.org/doc/{k}" for k, text in truth["pages"].items()
                  if truth["langs"][k] == "en" and 0 < len(text) <= max_len)


def check_near_dup(pairs, sd, truth: dict, texts: Dict[int, str],
                   vecs) -> Tuple[List[str], dict]:
    """LSH pairs: every planted pair found, every reported pair's exact
    Jaccard recomputed. semdedup: the keep flags recomputed from the
    reported clusters with the program's own drop rule. ``pairs`` and
    ``sd`` are Arrow tables of the two outputs."""
    import numpy as np

    from gen import JACCARD_T1000, SD_THETA2, jaccard_x1000, shingles

    problems: List[str] = []
    got = dict(zip(zip(pairs.column("a").to_pylist(),
                       pairs.column("b").to_pylist()),
                   pairs.column("jaccard_x1000").to_pylist()))
    if len(got) != pairs.num_rows:
        problems.append("a near-duplicate pair is reported twice")
    missing = [p for p in truth["dup_pairs"] if (p[0], p[1]) not in got]
    if missing:
        problems.append(f"{len(missing)} planted duplicate pairs not found, "
                        f"e.g. {missing[0]}")
    cache: Dict[int, set] = {}

    def sh(d: int) -> set:
        if d not in cache:
            cache[d] = shingles(texts[d])
        return cache[d]

    wrong = [(a, b, j) for (a, b), j in got.items()
             if a >= b or j < JACCARD_T1000 or jaccard_x1000(sh(a), sh(b)) != j]
    if wrong:
        problems.append(f"{len(wrong)} reported pairs have a wrong Jaccard, "
                        f"e.g. {wrong[0]}")
    ids = sd.column("vec_id").to_numpy()
    clusters = sd.column("cluster").to_numpy()
    kept = np.asarray(sd.column("kept").to_pylist(), dtype=bool)
    if len(ids) != len(vecs) or (np.sort(ids) != np.arange(len(vecs))).any():
        problems.append("semdedup did not return every vector once")
        return problems, {"pairs": len(got), "max_cluster_rows": 0}
    order = np.argsort(ids)
    ids, clusters, kept = ids[order], clusters[order], kept[order]
    want_kept = np.ones(len(ids), dtype=bool)
    sizes = []
    for c in np.unique(clusters):
        mem = ids[clusters == c]
        sizes.append(len(mem))
        V = vecs[mem]
        G = V @ V.T
        sq = np.diag(G)
        d2 = sq[:, None] + sq[None, :] - 2 * G
        close = np.tril(d2 <= SD_THETA2, k=-1)
        want_kept[mem[close.any(axis=1)]] = False
    if (want_kept != kept).any():
        problems.append(f"semdedup keep flag wrong on "
                        f"{int((want_kept != kept).sum())} vectors")
    found = sum(1 for p in truth["dup_pairs"] if (p[0], p[1]) in got)
    info = {"pairs": len(got), "max_cluster_rows": max(sizes),
            "planted_recall": found / max(1, len(truth["dup_pairs"])),
            "planted_vec_pairs_split": sum(
                1 for a, b in truth["vec_pairs"] if clusters[a] != clusters[b]),
            "kept": int(kept.sum())}
    return problems, info


def near_dup_digest(pairs, sd) -> Dict[str, str]:
    con = duckdb.connect()
    con.register("p", pairs)
    con.register("s", sd)
    dp = digest(con, "p", ["a", "b", "jaccard_x1000"])
    ds = digest(con, "s", ["cluster", "kept", "vec_id"])
    con.close()
    out = {"*": dp["*"] + "/" + ds["*"]}
    out.update({f"pairs.{k}": v for k, v in dp.items() if k != "*"})
    out.update({f"semdedup.{k}": v for k, v in ds.items() if k != "*"})
    return out


REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "reference.json")


def reference_for(workload: str, seed: int) -> Dict[str, str] | None:
    try:
        with open(REFERENCE) as fh:
            return json.load(fh).get(workload, {}).get(str(seed))
    except FileNotFoundError:
        return None


def record_reference(workload: str, seed: int, d: Dict[str, str]) -> None:
    try:
        with open(REFERENCE) as fh:
            ref = json.load(fh)
    except FileNotFoundError:
        ref = {}
    ref.setdefault(workload, {})[str(seed)] = d
    with open(REFERENCE, "w") as fh:
        json.dump(ref, fh, indent=1, sort_keys=True)
        fh.write("\n")
