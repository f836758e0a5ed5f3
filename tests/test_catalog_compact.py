"""Catalog.compact: small-file coalescing after repeated appends —
byte-level file counts, row/_ID/metadata preservation, partition-pruned
reads, a margin export left valid, idempotence, query parity, and
stale lifecycle-marker convergence at entry."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsd2_spark.catalog import Catalog, partition_catalog

RNG = np.random.default_rng(47)


def _pdf(n, start=0):
    ra = RNG.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(RNG.uniform(-1, 1, n)))
    return pd.DataFrame(
        {
            "source_id": np.arange(start, start + n, dtype=np.int64),
            "ra": ra,
            "dec": dec,
            "mag": RNG.uniform(10, 22, n),
        }
    )


def _build_appended(spark, tmp_path, name, batches=3, margins=False):
    cat = partition_catalog(
        spark.createDataFrame(_pdf(1500)), str(tmp_path / name), name,
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=100_000, order_k=2, write_margins=margins,
    )
    for b in range(batches):
        cat = cat.append(
            spark.createDataFrame(_pdf(600, start=10_000 + 600 * b))
        )
    return cat


def _cell_files(cat, root="catalog"):
    out = {}
    for f in glob.glob(f"{cat.path}/{root}/Norder=*/Dir=*/Npix=*/*.parquet"):
        cell = os.path.dirname(f)
        out.setdefault(cell, []).append(os.path.basename(f))
    return out


def _fragment_cells(cat, k=3):
    """Simulate an external bulk loader: split some cell files in two
    (content-identical, ranks intact) — the engine's own writers keep
    the main table one-file-per-cell, so main-table fragmentation can
    only arrive from outside."""
    import pyarrow.parquet as pq

    done = []
    for cell in sorted(_cell_files(cat))[:k]:
        files = sorted(
            f for f in os.listdir(cell) if f.endswith(".parquet")
        )
        t = pq.read_table(os.path.join(cell, files[0]))
        if t.num_rows < 2:
            continue
        half = t.num_rows // 2
        pq.write_table(t.slice(0, half), os.path.join(cell, "part-ext-a.parquet"))
        pq.write_table(t.slice(half), os.path.join(cell, "part-ext-b.parquet"))
        os.remove(os.path.join(cell, files[0]))
        done.append(cell)
    return done


def test_compact_coalesces_preserves_and_is_idempotent(spark, tmp_path):
    cat = _build_appended(spark, tmp_path, "cp")
    fragged = _fragment_cells(cat)
    assert fragged, "fixture should have fragmented some cells"
    files_before = _cell_files(cat)
    multi = {c for c, fs in files_before.items() if len(fs) > 1}
    assert multi
    before = sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"], r["mag"])
        for r in cat.df().collect()
    )
    meta_before = json.dumps(cat.meta.to_json(), sort_keys=True)

    cat2 = cat.compact()
    files_after = _cell_files(cat2)
    assert all(len(fs) == 1 for fs in files_after.values())
    # rows, ranks, placement, payload, metadata: all byte-identical
    after = sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"], r["mag"])
        for r in cat2.df().collect()
    )
    assert after == before
    assert json.dumps(cat2.meta.to_json(), sort_keys=True) == meta_before
    assert cat2.fsck()["consistent"]

    # storage-order contract: each compacted file is _ID-sorted
    for cell in sorted(files_after):
        pdf = pd.read_parquet(cell)
        ids = pdf["_ID"].to_numpy()
        assert (ids[1:] >= ids[:-1]).all(), cell

    # idempotent: nothing left to do, no file churn
    names2 = {c: fs for c, fs in files_after.items()}
    cat3 = cat2.compact()
    assert _cell_files(cat3) == names2


def test_compact_untouched_cells_keep_their_files(spark, tmp_path):
    cat = _build_appended(spark, tmp_path, "cpu")
    _fragment_cells(cat, k=2)
    files_before = _cell_files(cat)
    single = {c: fs for c, fs in files_before.items() if len(fs) == 1}
    assert single, "need some single-file cells to prove pruning"
    cat2 = cat.compact()
    files_after = _cell_files(cat2)
    for cell, fs in single.items():
        assert files_after[cell] == fs, "single-file cell was rewritten"


def test_compact_reads_only_target_cell_files(spark, tmp_path):
    """compact's merge scan targets EXACTLY the over-threshold cells'
    files: the census names them file-by-file (the marker contract),
    and after compaction every untouched cell still holds its byte-
    identical original file while only the fragmented cells changed —
    the stronger-than-partition-pruning guarantee of the explicit
    file-list read."""
    cat = _build_appended(spark, tmp_path, "cpp")
    fragged = set(_fragment_cells(cat, k=2))
    census = cat._compact_file_census("catalog", 1)
    # census == exactly the fragmented cells, with their exact files
    assert {
        os.path.join(cat.path, "catalog", rel) for rel in census
    } == fragged
    for rel, files in census.items():
        on_disk = sorted(
            f
            for f in os.listdir(os.path.join(cat.path, "catalog", rel))
            if f.endswith(".parquet")
        )
        assert files == on_disk and len(files) > 1
    # the (order, npix) view agrees
    assert cat._multifile_cells("catalog", 1) == sorted(
        (int(rel.split("/")[0].split("=")[1]), int(rel.split("/")[2].split("=")[1]))
        for rel in census
    )


def test_compact_keeps_a_valid_margin_export(spark, tmp_path):
    """compact changes neither rows nor leaves, so the export stays
    vouched for and its files are not touched."""
    cat = _build_appended(spark, tmp_path, "cpn", batches=0, margins=True)
    assert _fragment_cells(cat)
    halo_files = _cell_files(cat, "neighbor")
    halo_before = sorted(
        tuple(r) for r in cat.margin_df().select("source_id", "Npix").collect()
    )
    assert halo_files and halo_before
    cat2 = cat.compact()
    assert all(len(fs) == 1 for fs in _cell_files(cat2).values())
    assert cat2.meta.margins_exported
    assert _cell_files(cat2, "neighbor") == halo_files
    halo_after = sorted(
        tuple(r) for r in cat2.margin_df().select("source_id", "Npix").collect()
    )
    assert halo_after == halo_before
    assert cat2.fsck()["consistent"]


def test_compact_query_parity_and_validation(spark, tmp_path):
    cat = _build_appended(spark, tmp_path, "cpq")
    cone_before = sorted(
        r["source_id"] for r in cat.cone_search(45.0, 10.0, 5.0).collect()
    )
    cat2 = cat.compact()
    cone_after = sorted(
        r["source_id"] for r in cat2.cone_search(45.0, 10.0, 5.0).collect()
    )
    assert cone_after == cone_before
    with pytest.raises(ValueError):
        cat2.compact(max_files=0)


def test_compact_converges_stale_rebalance_marker_first(spark, tmp_path):
    cat = _build_appended(spark, tmp_path, "cpm", margins=False)
    # plant a pre-phase marker with no partial state: rollback is a
    # no-op, but compact must still converge it before touching disk
    with open(cat._rebalance_intent_path(), "w") as f:
        json.dump({"phase": "pre", "splits": [], "child_cells": []}, f)
    cat2 = cat.compact()
    assert not os.path.exists(cat2._rebalance_intent_path())
    assert all(len(fs) == 1 for fs in _cell_files(cat2).values())
    assert cat2.fsck()["consistent"]


class _Boom(RuntimeError):
    pass


def _rows_snapshot(cat):
    return sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"], round(r["mag"], 9))
        for r in cat.df().collect()
    )


def _crash_compact_at(spark, tmp_path, name, phase):
    """Run compact with an injected crash at the given phase; return
    (pre-crash snapshot, catalog path)."""
    cat = _build_appended(spark, tmp_path, name, batches=2)
    _fragment_cells(cat)
    before = _rows_snapshot(cat)

    def boom(self, p):
        if p == phase:
            raise _Boom(p)

    orig = Catalog._compact_checkpoint
    Catalog._compact_checkpoint = boom
    try:
        with pytest.raises(_Boom):
            cat.compact()
    finally:
        Catalog._compact_checkpoint = orig
    return before, cat.path, name


def test_compact_crash_before_done_rolls_back(spark, tmp_path):
    """Crash after the merged files land but BEFORE the marker flips:
    recovery rolls back (deletes the merged files), the original rows
    and file set are intact, and a rerun completes cleanly."""
    before, path, name = _crash_compact_at(spark, tmp_path, "ccb", "staged")
    torn = Catalog.load(spark, path, name)
    # the torn state is flagged, and every row still exists at least once
    assert torn.fsck()["stale_compact_intent"]
    healed = torn._reconcile_compact_intent()
    assert _rows_snapshot(healed) == before
    assert not os.path.exists(healed._compact_intent_path())
    done = healed.compact()
    assert _rows_snapshot(done) == before
    assert all(len(fs) == 1 for fs in _cell_files(done).values())
    assert done.fsck()["consistent"]


def test_compact_crash_after_done_rolls_forward(spark, tmp_path):
    """Crash AFTER the marker flips but before the staged files move
    in: the live cells still hold exactly the originals (the merged
    copies sit in staging); recovery rolls forward — moves the staged
    files in, deletes the old files — and exactly the merged
    one-file-per-cell set remains."""
    before, path, name = _crash_compact_at(spark, tmp_path, "cca", "done")
    torn = Catalog.load(spark, path, name)
    # live table untouched while torn; merged copies are in staging
    assert _rows_snapshot(torn) == before
    assert os.path.isdir(f"{path}/catalog__compactstage")
    healed = torn._reconcile_compact_intent()
    assert _rows_snapshot(healed) == before
    assert all(len(fs) == 1 for fs in _cell_files(healed).values())
    assert not os.path.isdir(f"{path}/catalog__compactstage")
    assert healed.fsck()["consistent"]
    # idempotent: nothing left to do
    assert _rows_snapshot(healed.compact()) == before


def test_stale_compact_marker_converged_by_other_ops(spark, tmp_path):
    """append / fsck(repair) reconcile a crashed compact at entry, the
    same contract delete/rebalance markers have."""
    before, path, name = _crash_compact_at(spark, tmp_path, "ccx", "staged")
    torn = Catalog.load(spark, path, name)
    nxt = spark.createDataFrame(_pdf(120, start=90_000))
    appended = torn.append(nxt)
    assert not os.path.exists(appended._compact_intent_path())
    assert appended.df().count() == len(before) + 120
    assert appended.fsck()["consistent"]

    before2, path2, name2 = _crash_compact_at(spark, tmp_path, "ccy", "done")
    torn2 = Catalog.load(spark, path2, name2)
    rep = torn2.fsck(repair=True)
    assert rep["repaired"]
    healed2 = Catalog.load(spark, path2, name2)
    assert _rows_snapshot(healed2) == before2
    assert healed2.fsck()["consistent"]


def test_torn_compact_marker_is_survivable(spark, tmp_path):
    """An unreadable marker (empty / truncated JSON) must not brick
    the lifecycle: it is treated as phase-pre — staging removed, live
    cells untouched — because old files are only ever deleted AFTER
    their merged replacement moved out of staging."""
    cat = _build_appended(spark, tmp_path, "ctm", batches=2)
    _fragment_cells(cat, k=2)
    before = _rows_snapshot(cat)
    # plant garbage where the marker lives, plus a stray staging dir
    with open(cat._compact_intent_path(), "w") as f:
        f.write("{not json")
    os.makedirs(f"{cat.path}/catalog__compactstage/Norder=0", exist_ok=True)
    # every lifecycle entry converges it instead of raising
    healed = Catalog.load(spark, cat.path, "ctm").compact()
    assert _rows_snapshot(healed) == before
    assert all(len(fs) == 1 for fs in _cell_files(healed).values())
    assert not os.path.isdir(f"{cat.path}/catalog__compactstage")
    assert not os.path.exists(healed._compact_intent_path())
    assert healed.fsck()["consistent"]


def test_compact_census_skips_stray_files(spark, tmp_path):
    """A stray regular FILE with a partition-looking name (leftover
    tmp, object-store folder marker) must not abort the census walk —
    compact and every lifecycle-op entry that reconciles a compact
    intent run it.  (Such a file also breaks Spark's own partition
    discovery on a full-table read, so the census is probed directly:
    it must degrade to skipping the stray, never NotADirectoryError.)"""
    cat = _build_appended(spark, tmp_path, "strayf")
    _fragment_cells(cat)
    baseline = cat._compact_file_census("catalog", 1)
    assert baseline, "fixture should have fragmented some cells"
    main = os.path.join(cat.path, "catalog")
    # stray files at every level of the partition tree
    open(os.path.join(main, "Norder=0_$folder$"), "w").close()
    norder = next(
        d for d in os.listdir(main)
        if d.startswith("Norder=") and os.path.isdir(os.path.join(main, d))
    )
    open(os.path.join(main, norder, "Dir=0_$folder$"), "w").close()
    dird = next(
        d for d in os.listdir(os.path.join(main, norder))
        if d.startswith("Dir=") and os.path.isdir(os.path.join(main, norder, d))
    )
    open(os.path.join(main, norder, dird, "Npix=0_$folder$"), "w").close()
    # NotADirectoryError before the fix; census result unchanged after
    assert cat._compact_file_census("catalog", 1) == baseline
