"""Lifecycle filesystem abstraction (sources/fs.py).

Every catalog mutation commits with one atomic operation, the metadata
``publish``; everything else it asks of the filesystem (listing a
leaf, removing a file or a directory) may be non-atomic and may crash
halfway.  These tests run append, delete, rebalance and compact through
a filesystem shaped like an object store — no rename at all, directory
removal one object at a time — including a crash in the middle of a
removal, and through the Hadoop FileSystem implementation.  "Config-only
cloud" is only true of the lifecycle ops once these pass."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from tests.test_catalog_compact import _build_appended, _cell_files, _fragment_cells

from lsd2_spark.catalog import Catalog
from lsd2_spark.sources.fs import LOCAL_FS, LifecycleFS


class ObjectStoreFS(LifecycleFS):
    """Object-store-shaped filesystem: ``publish`` (a conditional PUT)
    is its only atomic operation, it has no rename, and removing a
    directory deletes its objects one by one.  Counts every call."""

    def __init__(self):
        self.calls: dict[str, int] = {}

    def _count(self, op: str) -> None:
        self.calls[op] = self.calls.get(op, 0) + 1

    def listdir(self, path):
        self._count("listdir")
        return os.listdir(path)

    def isdir(self, path):
        self._count("isdir")
        return os.path.isdir(path)

    def exists(self, path):
        self._count("exists")
        return os.path.exists(path)

    def makedirs(self, path):
        self._count("makedirs")
        os.makedirs(path, exist_ok=True)

    def remove(self, path):
        self._count("remove")
        os.remove(path)

    def rmtree(self, path):
        self._count("rmtree")
        if not os.path.isdir(path):
            return
        for top, dirs, files in os.walk(path, topdown=False):
            for f in files:
                self.remove_object(os.path.join(top, f))
            for d in dirs:
                os.rmdir(os.path.join(top, d))
        os.rmdir(path)

    def remove_object(self, path):
        os.remove(path)

    def publish(self, path, text):
        self._count("publish")
        LOCAL_FS.publish(path, text)

    def read_text(self, path):
        self._count("read_text")
        return LOCAL_FS.read_text(path)


class CrashingRemovalFS(ObjectStoreFS):
    """Crashes on the ``crash_on``-th object deleted by an ``rmtree``
    or ``remove``: a multi-object removal interrupted halfway."""

    def __init__(self, crash_on: int):
        super().__init__()
        self.crash_on = crash_on
        self.removed = 0

    def remove_object(self, path):
        self.removed += 1
        if self.removed == self.crash_on:
            raise RuntimeError("injected crash mid-removal")
        super().remove_object(path)

    def remove(self, path):
        self._count("remove")
        self.remove_object(path)


def _rows(cat):
    return sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"], r["mag"])
        for r in cat.df().collect()
    )


def test_lifecycle_through_an_object_store_fs(spark, tmp_path):
    """append, delete, rebalance and compact through a filesystem with
    no rename: each commits with exactly one publish, every row is
    where the oracle says, and fsck finds the disk clean."""
    fs = ObjectStoreFS()
    cat = _build_appended(spark, tmp_path, "osfs", batches=0)
    cat = Catalog.load(spark, cat.path, "osfs", fs=fs)
    rng = np.random.default_rng(3)
    batch = pd.DataFrame({
        "source_id": np.arange(50_000, 50_400, dtype=np.int64),
        "ra": rng.normal(45.0, 0.5, 400) % 360,
        "dec": np.clip(rng.normal(10.0, 0.5, 400), -89, 89),
        "mag": rng.uniform(10, 22, 400),
    })
    want = {r["source_id"]: r["mag"] for r in cat.df().select("source_id", "mag").collect()}
    want.update(zip(batch["source_id"].tolist(), batch["mag"].tolist()))
    steps = [
        lambda c: c.append(spark.createDataFrame(batch)),
        lambda c: c.delete("mag > 21"),
        lambda c: c.rebalance(threshold=60),
        lambda c: _fragment_cells(Catalog.load(spark, c.path, "osfs"))[0],
        lambda c: Catalog.load(spark, c.path, "osfs", fs=fs).compact(),
    ]
    for i, step in enumerate(steps):
        publishes = fs.calls.get("publish", 0)
        version = Catalog.load(spark, cat.path, "osfs").meta.version
        cat = step(cat)
        assert cat.meta.version == version + 1, i
        if i != 3:  # step 3 is the external loader's registration
            assert cat._fs is fs
            assert fs.calls["publish"] == publishes + 1, i
    want = {k: m for k, m in want.items() if m <= 21}
    got = {r["source_id"]: r["mag"] for r in cat.df().select("source_id", "mag").collect()}
    assert got == want
    assert all(len(f) == 1 for f in _cell_files(cat).values())
    assert cat.meta.n_sources == len(want)
    assert cat.fsck()["consistent"]
    assert fs.calls["listdir"] > 0 and fs.calls["remove"] > 0


def test_compact_through_copy_delete_fs(spark, tmp_path):
    """Whole compact lifecycle over the object-store filesystem (no
    rename, per-object directory removal): identical guarantees to the
    POSIX run."""
    cat, _ = _fragment_cells(_build_appended(spark, tmp_path, "cdfs"))
    before = _rows(cat)
    fs = ObjectStoreFS()
    cat2 = Catalog(spark, cat.path, cat.meta, fs=fs).compact()
    assert fs.calls["publish"] == 1 and fs.calls["remove"] > 0
    assert all(len(f) == 1 for f in _cell_files(cat2).values())
    assert _rows(cat2) == before
    assert cat2.fsck()["consistent"]


def test_compact_crash_mid_copy_recovers(spark, tmp_path):
    """A crash in the middle of removing the superseded files (after
    the publish) leaves the merged version committed and some old
    files on disk; the reads of a fresh load are already exact, and
    fsck(repair=True), on the same kind of filesystem, deletes the
    rest."""
    cat, _ = _fragment_cells(_build_appended(spark, tmp_path, "torn"))
    before = _rows(cat)
    with pytest.raises(RuntimeError, match="injected crash"):
        Catalog(spark, cat.path, cat.meta, fs=CrashingRemovalFS(crash_on=2)).compact()

    torn = Catalog.load(spark, cat.path, fs=ObjectStoreFS())
    assert torn.meta.version == cat.meta.version + 1
    assert _rows(torn) == before
    rep = torn.fsck(repair=True)
    assert rep["unlisted_files"] and rep["repaired"]
    healed = Catalog.load(spark, cat.path, fs=ObjectStoreFS())
    assert _rows(healed) == before
    assert all(len(f) == 1 for f in _cell_files(healed).values())
    assert healed.fsck()["consistent"]


def test_publish_is_atomic_and_readable(tmp_path):
    p = str(tmp_path / "marker.json")
    LOCAL_FS.publish(p, '{"phase": "pre"}')
    assert LOCAL_FS.read_text(p) == '{"phase": "pre"}'
    LOCAL_FS.publish(p, '{"phase": "done"}')
    assert LOCAL_FS.read_text(p) == '{"phase": "done"}'
    assert not LOCAL_FS.exists(p + ".tmp")


def test_compact_through_hadoop_fs(spark, tmp_path):
    """The whole compact lifecycle through the Hadoop FileSystem
    implementation (JVM gateway) against file:// — the executable form
    of the 'cloud lifecycle is config-only' claim.  Same guarantees as
    the POSIX run."""
    from lsd2_spark.sources.fs import HadoopFS

    cat, _ = _fragment_cells(_build_appended(spark, tmp_path, "hdfs_c"))
    before = _rows(cat)
    fs = HadoopFS(spark)
    cat = Catalog(spark, cat.path, cat.meta, fs=fs)
    cat2 = cat.compact()
    assert cat2._fs is fs, "compact must hand back the injected fs"
    assert all(len(f) == 1 for f in _cell_files(cat2).values())
    assert _rows(cat2) == before
    assert cat2.fsck()["consistent"]


def test_delete_and_reload_through_hadoop_fs(spark, tmp_path):
    """delete()'s commit (publish/read_text/listdir/remove) through
    HadoopFS, then a fresh load() through it too."""
    from lsd2_spark.sources.fs import HadoopFS

    fs = HadoopFS(spark)
    cat = _build_appended(spark, tmp_path, "hdfs_d", margins=False)
    cat = Catalog(spark, cat.path, cat.meta, fs=fs)
    keep = sorted(
        r["source_id"] for r in cat.df().filter("mag <= 18").collect()
    )
    cat2 = cat.delete("mag > 18")
    assert cat2._fs is fs
    assert sorted(r["source_id"] for r in cat2.df().collect()) == keep
    again = Catalog.load(spark, cat.path, "hdfs_d", fs=fs)
    assert again.meta.n_sources == len(keep)
    assert again.fsck()["consistent"]


def test_reconciled_compact_keeps_injected_fs(spark, tmp_path):
    """A compact retried after a crash — it removes the crashed
    attempt's files first — hands back a Catalog still carrying the
    injected fs: dropping it would silently fall back to POSIX I/O for
    every later operation."""

    class _Boom(RuntimeError):
        pass

    class BoomFS(ObjectStoreFS):
        crash = True

        def publish(self, path, text):
            if self.crash:
                raise _Boom("injected")
            super().publish(path, text)

    cat, _ = _fragment_cells(_build_appended(spark, tmp_path, "keepfs"))
    fs = BoomFS()
    cat = Catalog(spark, cat.path, cat.meta, fs=fs)
    with pytest.raises(_Boom):
        cat.compact()
    assert cat.fsck()["unlisted_files"]
    fs.crash = False
    recovered = cat.compact()
    assert recovered._fs is fs
    assert recovered.fsck()["consistent"]
