"""Randomized lifecycle interleaving: the real catalog-corruption bugs
found to date (delete-vs-rebalance interplay; append-over-fine-leaves)
were INTERACTION defects between append/delete/rebalance/crash/fsck —
states no single-operation test visits.  This property test runs a
seeded random ~30-op sequence over {append, delete, rebalance, compact,
crash-injected variants of each, fsck} and asserts, after every step:
exact row-SET equality against a plain-dict oracle, n_sources
accounting, no duplicate ids, and an fsck report whose only findings
are the unlisted files of crashes since the last repair.

Every mutation commits by one metadata publish.  A crashed variant
crashes at one of the commit's two seams, chosen at random:
- at the publish (``_commit_meta``): the previous version stays
  committed, so the oracle does not move — except for a crashed append,
  which the stream replays under the same batch_id to completion, so
  the oracle applies it once;
- right after the publish (``_drop_superseded``): the new version is
  committed, so the oracle applies it, and the superseded files stay
  on disk unlisted until the next mutation over their leaves or an
  fsck repair removes them.
"""

from __future__ import annotations

import os
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

from lsd2_spark.catalog import Catalog, partition_catalog


class _Boom(RuntimeError):
    pass


def _boom(*a, **k):
    raise _Boom("injected crash")


def _mkrows(rng, ids):
    n = len(ids)
    return pd.DataFrame(
        {
            "source_id": np.asarray(ids, dtype=np.int64),
            # clustered hotspot keeps rebalance busy; tail keeps
            # coverage growing so append opens new leaves too
            "ra": np.where(
                rng.uniform(size=n) < 0.7,
                rng.normal(45.0, 0.6, n) % 360,
                rng.uniform(0, 360, n),
            ),
            "dec": np.where(
                rng.uniform(size=n) < 0.7,
                np.clip(rng.normal(10.0, 0.6, n), -89, 89),
                np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
            ),
            "mag": rng.uniform(10, 22, n),
        }
    )


N_STEPS = 30


def _fragment_listed_cells(spark, path, name, fs, k=2) -> None:
    """Split the one listed file of the first k single-file leaves in two
    content-identical halves (ranks intact) and register the halves in
    the metadata — the external-bulk-loader fragmentation compact exists
    for, so the compact/compact_crash ops have real work."""
    import pyarrow.parquet as pq

    meta = Catalog.load(spark, path, name, fs=fs).meta
    files = dict(meta.files)
    for leaf in [lf for lf, ns in sorted(files.items()) if len(ns) == 1][:k]:
        cell = Catalog(spark, path, meta)._leaf_dir(*leaf)
        t = pq.read_table(os.path.join(cell, files[leaf][0]))
        if t.num_rows < 2:
            continue
        half = t.num_rows // 2
        pq.write_table(t.slice(0, half), os.path.join(cell, "part-ext-a.parquet"))
        pq.write_table(t.slice(half), os.path.join(cell, "part-ext-b.parquet"))
        os.remove(os.path.join(cell, files[leaf][0]))
        files[leaf] = ("part-ext-a.parquet", "part-ext-b.parquet")
    fs.publish(
        f"{path}/{name}_meta.json",
        replace(meta, files=files, version=meta.version + 1).to_json(),
    )


@pytest.fixture(params=["local", "hadoop"])
def lifecycle_fs(request, spark):
    """Run the battery through BOTH LifecycleFS implementations: the
    POSIX default and the Hadoop FileSystem (JVM gateway) against
    file:// — Hadoop's local FS faithfully exhibits the non-POSIX
    listing/rename semantics the lifecycle contract guards."""
    if request.param == "local":
        from lsd2_spark.sources.fs import LOCAL_FS

        return LOCAL_FS
    from lsd2_spark.sources.fs import HadoopFS

    return HadoopFS(spark)


def test_randomized_lifecycle_interleaving(spark, tmp_path, lifecycle_fs):
    fs = lifecycle_fs
    rng = np.random.default_rng(93)
    name = "life"
    path = str(tmp_path / name)

    init = _mkrows(rng, range(2500))
    oracle = {int(r.source_id): round(float(r.mag), 9) for r in init.itertuples()}
    cat = partition_catalog(
        spark.createDataFrame(init), path, name,
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=1200, order_k=3, write_margins=False, fs=fs,
    )
    next_id = 10_000
    batch_id = 0
    mag_cuts = [21.0, 20.0, 19.0, 18.5]  # progressively deeper deletes
    # set by a crash, cleared by an fsck repair: until then fsck may
    # report the crashed attempts' unlisted files, and nothing else
    garbage = False

    def check(c):
        rows = {
            int(r["source_id"]): round(float(r["mag"]), 9)
            for r in c.df().select("source_id", "mag").collect()
        }
        assert len(rows) == c.df().count(), "duplicate source_id"
        assert rows == oracle
        assert c.meta.n_sources == len(oracle)
        rep = c.fsck()
        assert rep["n_rows_disk"] == len(oracle) and not rep["missing_files"], rep
        assert rep["duplicate_ids"] == rep["bad_rank_pixels"] == rep["misplaced_rows"] == 0
        assert rep["consistent"] or (garbage and rep["unlisted_files"]), rep
        # coverage disjointness: no leaf is an ancestor of another
        leaves = [(o, p) for o, ps in c.meta.hips.items() for p in ps]
        for o1, p1 in leaves:
            for o2, p2 in leaves:
                if o1 < o2:
                    assert (p2 >> (2 * (o2 - o1))) != p1

    def crash(run):
        """Run ``run`` with a crash at a random commit seam; returns the
        seam, or None when the op committed nothing to crash in."""
        seam = ("_commit_meta", "_drop_superseded")[int(rng.integers(2))]
        orig = getattr(Catalog, seam)
        setattr(Catalog, seam, _boom)
        try:
            run()
        except _Boom:
            return seam
        finally:
            setattr(Catalog, seam, orig)
        return None

    ops = [
        "append", "append", "delete", "rebalance", "compact",
        "append_crash", "delete_crash", "rebalance_crash",
        "compact_crash", "fsck",
    ]
    seams = set()
    for step in range(N_STEPS):
        op = ops[int(rng.integers(len(ops)))]
        cat = Catalog.load(spark, path, name, fs=fs)

        if op in ("append", "append_crash"):
            ids = list(range(next_id, next_id + int(rng.integers(100, 300))))
            next_id = ids[-1] + 1
            pdf = _mkrows(rng, ids)
            batch_id += 1
            if op == "append_crash":
                seam = crash(
                    lambda: cat.append(spark.createDataFrame(pdf), batch_id=batch_id)
                )
                seams.add(seam)
                garbage = True
                # streaming replay: same batch_id, runs to completion (a
                # no-op if the crash came after the publish)
                Catalog.load(spark, path, name, fs=fs).append(
                    spark.createDataFrame(pdf), batch_id=batch_id
                )
            else:
                cat.append(spark.createDataFrame(pdf), batch_id=batch_id)
            for r in pdf.itertuples():
                oracle[int(r.source_id)] = round(float(r.mag), 9)

        elif op in ("delete", "delete_crash"):
            cut = mag_cuts[int(rng.integers(len(mag_cuts)))]
            pred = f"mag > {cut}"
            victims = [k for k, m in oracle.items() if m > cut]
            if op == "delete_crash":
                seam = crash(lambda: cat.delete(pred))
                seams.add(seam)
                garbage |= seam is not None
                applied = seam != "_commit_meta"
            else:
                cat.delete(pred)
                applied = True
            if applied:
                for k in victims:
                    del oracle[k]

        elif op in ("rebalance", "rebalance_crash"):
            # row-preserving whichever side of the publish it crashes on
            if op == "rebalance_crash":
                seam = crash(lambda: cat.rebalance(threshold=600))
                seams.add(seam)
                garbage |= seam is not None
            else:
                cat.rebalance(threshold=600)

        elif op in ("compact", "compact_crash"):
            # content-identical by contract: the oracle doesn't move.
            # The engine's own writers are one-file-per-cell, so
            # compaction would be a no-op (and the crash seams
            # unreachable): fragment a couple of cells first, as an
            # external bulk loader would
            _fragment_listed_cells(spark, path, name, fs, k=2)
            cat = Catalog.load(spark, path, name, fs=fs)
            if op == "compact_crash":
                seam = crash(cat.compact)
                seams.add(seam)
                garbage |= seam is not None
            else:
                cat.compact()

        elif op == "fsck":
            cat.fsck(repair=True)
            garbage = False

        check(Catalog.load(spark, path, name, fs=fs))

    assert {"_commit_meta", "_drop_superseded"} <= seams, seams
    # the final audit: a repair leaves nothing unlisted
    Catalog.load(spark, path, name, fs=fs).fsck(repair=True)
    garbage = False
    check(Catalog.load(spark, path, name, fs=fs))
