"""Catalog.rebalance: in-place splitting of over-threshold cells —
row preservation, rank integrity, query parity (cone + boundary-correct
cross-match), withdrawal of the margin export, idempotence, and both
crash windows of its commit (before the publish: the old leaves stay
committed; after it: the children, with the parents' files left for
fsck or the next mutation to remove)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from lsd2_spark.catalog import Catalog, partition_catalog

RNG = np.random.default_rng(31)


def _pdf(n=6000):
    ra = RNG.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(RNG.uniform(-1, 1, n)))
    hot = int(n * 0.5)  # dense hotspot: the cells rebalance will split
    ra[:hot] = RNG.normal(45, 0.8, hot) % 360
    dec[:hot] = np.clip(RNG.normal(10, 0.8, hot), -89, 89)
    return pd.DataFrame(
        {
            "source_id": np.arange(n, dtype=np.int64),
            "ra": ra,
            "dec": dec,
            "mag": RNG.uniform(10, 22, n),
        }
    )


def _build_over(spark, tmp_path, name, margins=False):
    """Catalog ingested at a coarse threshold, then rebalance-tested at
    a lower one (equivalent to appends having pushed cells over)."""
    return partition_catalog(
        spark.createDataFrame(_pdf()), str(tmp_path / name), name,
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=3000, order_k=4, write_margins=margins,
    )


def _cells(cat):
    return {
        (r["Norder"], r["Npix"]): r["count"]
        for r in cat.df().groupBy("Norder", "Npix").count().collect()
    }


def test_rebalance_splits_and_preserves_everything(spark, tmp_path):
    cat = _build_over(spark, tmp_path, "rb")
    thr = 700
    before_cells = _cells(cat)
    assert any(c > thr for c in before_cells.values())
    before_rows = {
        r["source_id"]: (r["ra"], r["dec"], r["mag"])
        for r in cat.df().collect()
    }
    cone_before = sorted(
        r["source_id"] for r in cat.cone_search(45.0, 10.0, 3.0).collect()
    )

    cat2 = cat.rebalance(threshold=thr)

    after_cells = _cells(cat2)
    assert all(c <= thr for c in after_cells.values()), after_cells
    # untouched cells keep their identity
    for cell, c in before_cells.items():
        if c <= thr:
            assert after_cells.get(cell) == c
    # rows are exactly preserved
    after_rows = {
        r["source_id"]: (r["ra"], r["dec"], r["mag"])
        for r in cat2.df().collect()
    }
    assert after_rows == before_rows
    assert cat2.meta.n_sources == cat.meta.n_sources
    # coverage map matches disk, ranks contiguous, no stale markers
    rep = cat2.fsck()
    assert rep["consistent"], rep
    # cone search parity
    cone_after = sorted(
        r["source_id"] for r in cat2.cone_search(45.0, 10.0, 3.0).collect()
    )
    assert cone_after == cone_before
    # idempotent
    cat3 = cat2.rebalance(threshold=thr)
    assert _cells(cat3) == after_cells
    # reload from disk sees the committed state
    rl = Catalog.load(spark, cat.path, "rb")
    assert _cells(rl) == after_cells


def test_rebalance_preserves_crossmatch_and_withdraws_margins(spark, tmp_path):
    """Cross-match builds its halos at query time, so it stays
    boundary-correct across the split: pair sets identical before and
    after.  The margin export named the split parents, so rebalance
    withdraws it."""
    cat = _build_over(spark, tmp_path, "rbx", margins=True)
    other_pdf = _pdf(1200)
    other_pdf["source_id"] += 1_000_000
    other = partition_catalog(
        spark.createDataFrame(other_pdf), str(tmp_path / "other"), "other",
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=3000, order_k=4,
    )
    before = sorted(
        (r[0], r[1])
        for r in cat.cross_match(other, n_neighbors=2, dthresh=0.5)
        .select("rbx_source_id", "other_source_id")
        .collect()
    )
    cat2 = cat.rebalance(threshold=700)
    after = sorted(
        (r[0], r[1])
        for r in cat2.cross_match(other, n_neighbors=2, dthresh=0.5)
        .select("rbx_source_id", "other_source_id")
        .collect()
    )
    assert after == before
    assert cat2.margin_df() is None
    assert not os.path.exists(f"{cat.path}/neighbor")
    assert not Catalog.load(spark, cat.path, "rbx").meta.margins_exported
    # a re-export describes the children: halos only for live cells
    m = cat2.export_margins().margin_df()
    halo_cells = {
        (r["Norder"], r["Npix"])
        for r in m.select("Norder", "Npix").distinct().collect()
    }
    assert halo_cells and halo_cells <= set(_cells(cat2))


class _Boom(RuntimeError):
    pass


def _crash_rebalance(cat, thr, seam):
    """Run rebalance with a crash at ``seam``: ``_commit_meta`` (the
    publish: the children's files are written but unlisted) or
    ``_drop_superseded`` (right after the publish: the split parents'
    files are unlisted but still on disk)."""
    orig = getattr(Catalog, seam)

    def boom(self, *a, **k):
        raise _Boom(f"crash at {seam}")

    setattr(Catalog, seam, boom)
    try:
        with pytest.raises(_Boom):
            cat.rebalance(threshold=thr)
    finally:
        setattr(Catalog, seam, orig)


def test_crash_before_done_marker_rolls_back(spark, tmp_path):
    """Kill at the publish, with the children's files written: the
    committed version still names the parents, reads return exactly
    the original rows, fsck reports the children's files as unlisted,
    and the next rebalance removes them before it writes the same
    split again."""
    cat = _build_over(spark, tmp_path, "rbc1", margins=False)
    thr = 700
    before_cells = _cells(cat)
    before_rows = cat.df().count()

    _crash_rebalance(cat, thr, "_commit_meta")
    stale = Catalog.load(spark, cat.path, "rbc1")
    assert stale.meta == cat.meta
    assert _cells(stale) == before_cells
    rep = stale.fsck()
    assert rep["cells_disk_only"] and not rep["consistent"]

    healed = stale.rebalance(threshold=thr)
    assert healed.df().count() == before_rows
    assert all(c <= thr for c in _cells(healed).values())
    assert healed.fsck()["consistent"]


def test_crash_after_done_marker_rolls_forward(spark, tmp_path):
    """Kill right after the publish, before the parents' files are
    deleted: the committed version names the children only, so reads
    see every row once; fsck(repair=True) deletes the parents' files."""
    cat = _build_over(spark, tmp_path, "rbc2", margins=False)
    thr = 700
    n0 = cat.df().count()

    _crash_rebalance(cat, thr, "_drop_superseded")
    stale = Catalog.load(spark, cat.path, "rbc2")
    assert stale.df().count() == n0
    assert all(c <= thr for c in _cells(stale).values())
    rep = stale.fsck()
    assert not rep["consistent"] and rep["cells_disk_only"]
    assert rep["n_rows_disk"] == n0 and rep["duplicate_ids"] == 0

    rep2 = stale.fsck(repair=True)
    assert rep2["repaired"]
    healed = Catalog.load(spark, cat.path, "rbc2")
    assert healed.df().count() == n0
    assert all(c <= thr for c in _cells(healed).values())
    assert healed.fsck()["consistent"]
    for o, p in rep["cells_disk_only"]:
        assert not os.path.exists(healed._leaf_dir(o, p))


def test_delete_reconciles_a_crashed_rebalance_first(spark, tmp_path):
    """A delete after a rebalance that crashed right after its publish
    reads only the committed children — no row is doubled by the
    parents' files still on disk — so its match count and n_sources
    are exact; the parents' files wait, unread, for fsck(repair=True)."""
    cat = _build_over(spark, tmp_path, "xmark", margins=False)
    thr = 700
    n0 = cat.meta.n_sources

    _crash_rebalance(cat, thr, "_drop_superseded")
    stale = Catalog.load(spark, cat.path, "xmark")
    assert stale.df().count() == n0
    n_victims = stale.df().filter("mag > 21.5").count()

    cat2 = stale.delete("mag > 21.5")
    assert cat2.meta.n_sources == n0 - n_victims
    assert cat2.df().count() == n0 - n_victims
    assert cat2.df().filter("mag > 21.5").count() == 0
    rep = cat2.fsck(repair=True)
    assert rep["cells_disk_only"] and rep["n_rows_disk"] == n0 - n_victims
    assert Catalog.load(spark, cat.path, "xmark").fsck()["consistent"]


def test_append_after_rebalance_respects_fine_leaves(spark, tmp_path):
    """After a rebalance leaves cells FINER than order_k, an append
    must (a) assign new rows into those fine leaves (the probe must
    shift down from the finest coverage order — a negative shift was
    silently masked into garbage), and (b) never open an order_k leaf
    spatially containing existing finer leaves (a later rebalance's
    dynamic overwrite would clobber them).  Four append+rebalance
    rounds onto one hotspot must preserve every row with no duplicate
    ids and consistent metadata."""
    import pandas as pd

    rng = np.random.default_rng(17)

    def batch(n, offset):
        return pd.DataFrame(
            {
                "source_id": np.arange(offset, offset + n, dtype=np.int64),
                "ra": rng.normal(200.0, 0.3, n) % 360,
                "dec": np.clip(rng.normal(5.0, 0.3, n), -89, 89),
                "mag": rng.uniform(10, 22, n),
            }
        )

    cat = partition_catalog(
        spark.createDataFrame(batch(300, 0)), str(tmp_path / "ar"), "ar",
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=400, order_k=3, write_margins=False,
    )
    for b in range(4):
        cat = cat.append(
            spark.createDataFrame(batch(300, 1000 + b * 300)), batch_id=b
        )
        cat = cat.rebalance()
        n = 300 + (b + 1) * 300
        assert cat.df().count() == n
        assert cat.meta.n_sources == n
        assert cat.df().groupBy("source_id").count().filter("count > 1").count() == 0
        assert cat.fsck()["consistent"]
    # coverage stayed disjoint: no leaf is an ancestor of another
    leaves = [(o, p) for o, ps in cat.meta.hips.items() for p in ps]
    for o1, p1 in leaves:
        for o2, p2 in leaves:
            if o1 < o2:
                assert (p2 >> (2 * (o2 - o1))) != p1, ((o1, p1), (o2, p2))


def test_append_reconciles_a_crashed_rebalance_first(spark, tmp_path):
    """A restarted stream replays its batch through append() after a
    rebalance crashed at its publish, with the children's files
    already written.  The append plans against the committed parents
    and writes the batch there; the children's files stay unlisted and
    unread.  The next rebalance removes them before writing its own
    children, so every appended row survives it once."""
    cat = _build_over(spark, tmp_path, "apx", margins=False)
    thr = 700
    n0 = cat.df().count()

    _crash_rebalance(cat, thr, "_commit_meta")
    stale = Catalog.load(spark, cat.path, "apx")
    assert stale.df().count() == n0
    assert stale.fsck()["cells_disk_only"]

    # the replayed batch lands squarely in the hotspot the crashed
    # rebalance split
    batch = pd.DataFrame(
        {
            "source_id": np.arange(10_000, 10_200, dtype=np.int64),
            "ra": RNG.normal(45, 0.5, 200) % 360,
            "dec": np.clip(RNG.normal(10, 0.5, 200), -89, 89),
            "mag": RNG.uniform(10, 22, 200),
        }
    )
    cat2 = stale.append(spark.createDataFrame(batch), batch_id=7)
    assert cat2.df().count() == n0 + 200
    assert cat2.meta.n_sources == n0 + 200
    assert cat2.df().filter("source_id >= 10000").count() == 200

    cat3 = cat2.rebalance(threshold=thr)
    assert cat3.df().count() == n0 + 200
    assert cat3.meta.n_sources == n0 + 200
    assert cat3.df().filter("source_id >= 10000").count() == 200
    assert (
        cat3.df().groupBy("source_id").count().filter("count > 1").count() == 0
    )
    # child directories of the crashed plan that the new plan split
    # further are the only leftovers; repair removes them
    cat3.fsck(repair=True)
    healed = Catalog.load(spark, cat.path, "apx")
    assert healed.df().count() == n0 + 200
    assert healed.fsck()["consistent"]


def test_rebalance_threshold_zero_raises(spark, tmp_path):
    """threshold=0 must raise, not silently fall back to the ingest
    threshold (the old `threshold or meta.pix_threshold` coercion)."""
    cat = _build_over(spark, tmp_path, "thr0", margins=False)
    with pytest.raises(ValueError, match="threshold"):
        cat.rebalance(threshold=0)
    with pytest.raises(ValueError, match="threshold"):
        cat.rebalance(threshold=-5)


def test_rebalance_reliable_cuts_are_reclaimed(spark, tmp_path):
    """Round-12: under the "auto" lineage-cut default a session with a
    checkpoint dir makes any lineage cut a RELIABLE checkpoint; an
    auto_rebalance stream must not leave one snapshot per rebalance in
    the job store (rebalance no longer cuts at all: it rebuilds no
    halos)."""
    import os as _os

    cat = _build_over(spark, tmp_path, "rbrc")
    job_ckpt = str(tmp_path / "jobstore")
    prev = spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(job_ckpt)
    try:
        cat2 = cat.rebalance(threshold=700)
    finally:
        spark.sparkContext.setCheckpointDir(prev)
    assert cat2.fsck()["consistent"]
    assert cat2.df().count() == cat.meta.n_sources
    leftovers = [
        d
        for _, dirs, _ in _os.walk(job_ckpt)
        for d in dirs
        if d.startswith("rdd-")
    ]
    assert leftovers == [], (
        f"rebalance left reliable checkpoints behind: {leftovers}"
    )
