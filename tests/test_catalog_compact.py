"""Catalog.compact: coalescing the files an external loader wrote into
leaves and registered in the metadata — byte-level file counts,
row/_ID/metadata preservation, reads of listed files only, a margin
export left valid, idempotence, query parity, and both crash windows of
the commit (before the publish: the old files stay listed; after it:
the merged ones, with the old ones left for fsck or the next mutation
to remove)."""

from __future__ import annotations

import glob
import os
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsd2_spark.catalog import Catalog, _leaf_of_rel, partition_catalog
from lsd2_spark.sources.fs import LOCAL_FS

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


def _register(cat, cells):
    """What an external loader does after writing into leaves: publish
    the next metadata version naming the files now in ``cells``.
    Returns the catalog at that version."""
    meta = Catalog.load(cat.spark, cat.path, cat.meta.cat_name).meta
    files = dict(meta.files)
    for cell in cells:
        leaf = _leaf_of_rel(os.path.relpath(cell, f"{cat.path}/catalog"))
        files[leaf] = tuple(sorted(f for f in os.listdir(cell) if f.endswith(".parquet")))
    LOCAL_FS.publish(
        f"{cat.path}/{meta.cat_name}_meta.json",
        replace(meta, files=files, version=meta.version + 1).to_json(),
    )
    return Catalog.load(cat.spark, cat.path, meta.cat_name)


def _fragment_cells(cat, k=3):
    """Simulate an external bulk loader: split some cell files in two
    (content-identical, ranks intact) and register the halves in the
    metadata — the engine's own writers keep the main table
    one-file-per-cell, so main-table fragmentation can only arrive from
    outside.  Returns (the catalog at the registered version, the
    fragmented cell directories)."""
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
    return _register(cat, done), done


def _rows_snapshot(cat):
    return sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"], round(r["mag"], 9))
        for r in cat.df().collect()
    )


def test_compact_coalesces_preserves_and_is_idempotent(spark, tmp_path):
    cat, fragged = _fragment_cells(_build_appended(spark, tmp_path, "cp"))
    assert fragged, "fixture should have fragmented some cells"
    files_before = _cell_files(cat)
    multi = {c for c, fs in files_before.items() if len(fs) > 1}
    assert multi
    before = sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"], r["mag"])
        for r in cat.df().collect()
    )

    cat2 = cat.compact()
    files_after = _cell_files(cat2)
    assert all(len(fs) == 1 for fs in files_after.values())
    # rows, ranks, placement, payload: all identical; the metadata
    # differs only in the files it lists and its version
    after = sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"], r["mag"])
        for r in cat2.df().collect()
    )
    assert after == before
    assert cat2.meta.version == cat.meta.version + 1
    assert replace(cat2.meta, files={}, version=0) == replace(cat.meta, files={}, version=0)
    assert {cat2._leaf_dir(*lf): list(ns) for lf, ns in cat2.meta.files.items()} == files_after
    assert cat2.fsck()["consistent"]

    # storage-order contract: each compacted file is _ID-sorted
    for cell in sorted(files_after):
        pdf = pd.read_parquet(cell)
        ids = pdf["_ID"].to_numpy()
        assert (ids[1:] >= ids[:-1]).all(), cell

    # idempotent: nothing left to do, no file churn, no new version
    cat3 = cat2.compact()
    assert _cell_files(cat3) == files_after
    assert cat3.meta.version == cat2.meta.version


def test_compact_untouched_cells_keep_their_files(spark, tmp_path):
    cat, _ = _fragment_cells(_build_appended(spark, tmp_path, "cpu"), k=2)
    files_before = _cell_files(cat)
    single = {c: fs for c, fs in files_before.items() if len(fs) == 1}
    assert single, "need some single-file cells to prove pruning"
    cat2 = cat.compact()
    files_after = _cell_files(cat2)
    for cell, fs in single.items():
        assert files_after[cell] == fs, "single-file cell was rewritten"


def test_compact_reads_only_target_cell_files(spark, tmp_path):
    """compact targets exactly the leaves whose metadata lists more than
    ``max_files`` files and reads only listed files: an unlisted file
    planted in an untouched leaf is neither read nor removed (fsck
    reports it), and one planted in a target leaf is removed before the
    merge.  Both plants are not even Parquet, so reading either would
    fail the compact."""
    cat, fragged = _fragment_cells(_build_appended(spark, tmp_path, "cpp"), k=2)
    targets = {
        cat._leaf_dir(*lf) for lf, ns in cat.meta.files.items() if len(ns) > 1
    }
    assert targets == set(fragged)
    before = _rows_snapshot(cat)
    other = next(c for c in sorted(_cell_files(cat)) if c not in targets)
    for cell in (other, fragged[0]):
        with open(os.path.join(cell, "part-stray.parquet"), "wb") as f:
            f.write(b"not parquet")

    cat2 = cat.compact()
    assert _rows_snapshot(cat2) == before
    files_after = _cell_files(cat2)
    assert sorted(files_after[fragged[0]]) == list(
        cat2.meta.files[_leaf_of_rel(os.path.relpath(fragged[0], f"{cat.path}/catalog"))]
    )
    assert "part-stray.parquet" in files_after[other]
    rep = cat2.fsck()
    assert rep["unlisted_files"] == [
        os.path.relpath(os.path.join(other, "part-stray.parquet"), f"{cat.path}/catalog")
    ]
    assert not rep["consistent"]


def test_compact_keeps_a_valid_margin_export(spark, tmp_path):
    """compact changes neither rows nor leaves, so the export stays
    vouched for and its files are not touched."""
    cat, fragged = _fragment_cells(
        _build_appended(spark, tmp_path, "cpn", batches=0, margins=True)
    )
    assert fragged
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


class _Boom(RuntimeError):
    pass


def _boom(*a, **k):
    raise _Boom("injected crash")


def _crash_compact_at(spark, tmp_path, name, seam):
    """Fragment a catalog and run compact with a crash injected at
    ``seam``: ``_commit_meta`` (the publish: the merged files are
    written but unlisted) or ``_drop_superseded`` (right after the
    publish: the old files are unlisted but still on disk).  Returns
    (pre-crash row snapshot, the fragmented catalog)."""
    cat, fragged = _fragment_cells(_build_appended(spark, tmp_path, name, batches=2))
    assert fragged
    before = _rows_snapshot(cat)
    orig = getattr(Catalog, seam)
    setattr(Catalog, seam, _boom)
    try:
        with pytest.raises(_Boom):
            cat.compact()
    finally:
        setattr(Catalog, seam, orig)
    return before, cat


def test_compact_crash_before_done_rolls_back(spark, tmp_path):
    """Crash at the publish, after the merged files landed: the
    committed version still lists the original files, so reads return
    exactly the original rows; fsck reports the merged files as
    unlisted, and the rerun removes them before it merges again."""
    before, cat = _crash_compact_at(spark, tmp_path, "ccb", "_commit_meta")
    torn = Catalog.load(spark, cat.path, "ccb")
    assert torn.meta == cat.meta
    assert _rows_snapshot(torn) == before
    rep = torn.fsck()
    assert rep["unlisted_files"] and not rep["consistent"]
    assert rep["n_rows_disk"] == len(before)
    done = torn.compact()
    assert _rows_snapshot(done) == before
    assert all(len(fs) == 1 for fs in _cell_files(done).values())
    assert done.fsck()["consistent"]


def test_compact_crash_after_done_rolls_forward(spark, tmp_path):
    """Crash right after the publish: the committed version lists the
    merged one-file-per-cell set, the old files sit unlisted beside it
    and are never read; fsck(repair=True) deletes them."""
    before, cat = _crash_compact_at(spark, tmp_path, "cca", "_drop_superseded")
    torn = Catalog.load(spark, cat.path, "cca")
    assert torn.meta.version == cat.meta.version + 1
    assert all(len(ns) == 1 for ns in torn.meta.files.values())
    assert _rows_snapshot(torn) == before
    rep = torn.fsck()
    assert rep["unlisted_files"] and not rep["consistent"]
    assert torn.fsck(repair=True)["repaired"]
    healed = Catalog.load(spark, cat.path, "cca")
    assert _rows_snapshot(healed) == before
    assert all(len(fs) == 1 for fs in _cell_files(healed).values())
    assert healed.fsck()["consistent"]
    # idempotent: nothing left to do
    assert _rows_snapshot(healed.compact()) == before


def test_stale_compact_marker_converged_by_other_ops(spark, tmp_path):
    """The leftovers of a crashed compact are removed by the next
    mutation over their leaves (here an append whose rows land in
    them) or by fsck(repair=True)."""
    before, cat = _crash_compact_at(spark, tmp_path, "ccx", "_commit_meta")
    torn = Catalog.load(spark, cat.path, "ccx")
    targets = [lf for lf, ns in torn.meta.files.items() if len(ns) > 1]
    nxt = (
        torn._scan(targets)
        .filter(F.col("source_id") % 4 == 0)
        .select("Norder", "Npix", (F.col("source_id") + 90_000).alias("source_id"),
                "ra", "dec", "mag")
        .toPandas()
    )
    assert set(zip(nxt["Norder"], nxt["Npix"])) == set(targets)
    appended = torn.append(spark.createDataFrame(nxt.drop(columns=["Norder", "Npix"])))
    assert appended.df().count() == len(before) + len(nxt)
    assert appended.fsck()["consistent"]

    before2, cat2 = _crash_compact_at(spark, tmp_path, "ccy", "_drop_superseded")
    torn2 = Catalog.load(spark, cat2.path, "ccy")
    rep = torn2.fsck(repair=True)
    assert rep["repaired"]
    healed2 = Catalog.load(spark, cat2.path, "ccy")
    assert _rows_snapshot(healed2) == before2
    assert healed2.fsck()["consistent"]


def test_torn_compact_marker_is_survivable(spark, tmp_path):
    """A torn file (half of a Parquet file, as a crash mid-write
    leaves it) in a leaf does not break anything: no read opens it,
    since the metadata does not list it, and the next compact over the
    leaf removes it before merging."""
    cat, fragged = _fragment_cells(_build_appended(spark, tmp_path, "ctm", batches=2), k=2)
    before = _rows_snapshot(cat)
    src = os.path.join(fragged[0], "part-ext-a.parquet")
    with open(src, "rb") as f:
        data = f.read()
    with open(os.path.join(fragged[0], "part-torn.parquet"), "wb") as f:
        f.write(data[: len(data) // 2])
    assert _rows_snapshot(cat) == before
    assert cat.cone_search(45.0, 10.0, 180.0).count() == len(before)  # all sky
    healed = Catalog.load(spark, cat.path, "ctm").compact()
    assert _rows_snapshot(healed) == before
    assert all(len(fs) == 1 for fs in _cell_files(healed).values())
    assert healed.fsck()["consistent"]


def test_compact_census_skips_stray_files(spark, tmp_path):
    """A stray regular FILE with a partition-looking name (leftover
    tmp, object-store folder marker) at any level of the partition
    tree is not a leaf: fsck's walk of the disk skips it (never
    NotADirectoryError), and compact, which reads the named files of its
    leaves, never sees it.  (Such a file also breaks Spark's partition
    discovery of the root, which a full read lists.)"""
    cat, fragged = _fragment_cells(_build_appended(spark, tmp_path, "strayf"))
    assert fragged, "fixture should have fragmented some cells"
    baseline = cat._disk_files()
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
    assert cat._disk_files() == baseline
    before = cat.cone_search(45.0, 10.0, 180.0).count()  # all sky
    cat2 = cat.compact()
    assert all(len(ns) == 1 for ns in cat2.meta.files.values())
    assert cat2.cone_search(45.0, 10.0, 180.0).count() == before
