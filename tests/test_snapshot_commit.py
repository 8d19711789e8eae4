"""SnapshotTable commit atomicity under failure injection: append,
overwrite, merge and bin-pack compaction each publish one manifest.
A reader between any two manifest-file steps sees the old snapshot or
the new one, never both mixed; a failed manifest write or rename
leaves the old snapshot latest and no stray file behind."""

import json
import os

import pytest

from pikes_spark.sources import tables
from pikes_spark.sources.tables import SnapshotTable

OPS = {
    "append": lambda t, spark: t.append(
        spark.createDataFrame([(4,)], "v int"), spark),
    "overwrite": lambda t, spark: t.overwrite(
        spark.createDataFrame([(9,)], "v int"), spark),
    "merge": lambda t, spark: t.merge(
        spark.createDataFrame([(3,), (5,)], "v int"), ["v"], spark),
    "compaction": lambda t, spark: t.rewrite_data_files(spark),
}


class _Module:
    """Stand-in for a module inside ``tables`` only: overrides some
    functions, delegates the rest."""

    def __init__(self, real, **overrides):
        self._real = real
        self.__dict__.update(overrides)

    def __getattr__(self, name):
        return getattr(self._real, name)


class _Faults:
    """Counts manifest-file steps (json.dump, os.rename); fails step
    ``fail_at`` (a dump fails after writing a torn prefix) and calls
    ``probe`` after every step that went through."""

    def __init__(self, fail_at=None, probe=None):
        self.steps, self.fail_at, self.probe = 0, fail_at, probe

    def _step(self):
        self.steps += 1
        if self.steps == self.fail_at:
            raise OSError(f"injected failure at step {self.steps}")

    def dump(self, obj, fh, **kw):
        if self.steps + 1 == self.fail_at:
            fh.write(json.dumps(obj)[:20])
        self._step()
        json.dump(obj, fh, **kw)
        fh.flush()
        self._after()

    def rename(self, src, dst):
        self._step()
        os.rename(src, dst)
        self._after()

    def _after(self):
        if self.probe is not None:
            self.probe()


def _visible(t, spark):
    """What a reader sees: the latest snapshot's rows; its manifest's
    total_rows must agree with them."""
    df = t.read(spark)
    rows = sorted(r.v for r in df.collect()) if df is not None else []
    assert t.latest_snapshot()["total_rows"] == len(rows)
    return rows


def _seeded(spark, root):
    t = SnapshotTable(root, sort_cols=["v"], name="t")
    t.append(spark.createDataFrame([(1,), (2,)], "v int"), spark)
    t.append(spark.createDataFrame([(3,)], "v int"), spark)
    return t


def _listing(t):
    return {d: sorted(os.listdir(os.path.join(t.root, d)))
            for d in ("meta", "data")}


@pytest.mark.parametrize("op", sorted(OPS))
def test_commit_is_atomic_under_failure(spark, tmp_path, monkeypatch, op):
    def inject(faults):
        monkeypatch.setattr(tables, "os", _Module(os, rename=faults.rename))
        monkeypatch.setattr(tables, "json", _Module(json, dump=faults.dump))

    # clean run: probe what a reader sees after every manifest step
    t = _seeded(spark, str(tmp_path / "clean"))
    old = _visible(t, spark)
    seen = []
    faults = _Faults(probe=lambda: seen.append(_visible(t, spark)))
    inject(faults)
    OPS[op](t, spark)
    monkeypatch.undo()
    new = _visible(t, spark)
    assert faults.steps >= 2
    assert all(v in (old, new) for v in seen), (old, new, seen)

    # fail each step in turn on a fresh table
    for k in range(1, faults.steps + 1):
        t = _seeded(spark, str(tmp_path / f"fail{k}"))
        before = _listing(t)
        inject(_Faults(fail_at=k))
        with pytest.raises(OSError, match="injected"):
            OPS[op](t, spark)
        monkeypatch.undo()
        assert _visible(t, spark) == old, k
        assert _listing(t) == before, k
