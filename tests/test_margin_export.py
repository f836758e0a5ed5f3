"""The margin export (``neighbor/``): ingest with ``write_margins=True``
or ``Catalog.export_margins`` writes it and sets ``margins_exported`` in
the metadata.  Append, delete and rebalance withdraw it — their commit
clears the flag, then they remove the directory — and ``margin_df``
serves it only while the committed metadata vouches for it.  ``fsck`` reports a directory nothing vouches
for, and ``repair=True`` removes it."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from lsd2_spark.catalog import Catalog, CatalogMetadata, partition_catalog
from lsd2_spark.sources.fs import LocalFS

NAME = "mx"


def _pdf(n, start=0):
    """Seeded by ``start``, so a replayed batch carries the same rows."""
    rng = np.random.default_rng(start)
    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    hot = n // 2  # dense hotspot: cells a rebalance at 700 splits
    ra[:hot] = rng.normal(45, 0.8, hot) % 360
    dec[:hot] = np.clip(rng.normal(10, 0.8, hot), -89, 89)
    return pd.DataFrame(
        {
            "source_id": np.arange(start, start + n, dtype=np.int64),
            "ra": ra,
            "dec": dec,
            "mag": rng.uniform(10, 22, n),
        }
    )


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    """One ingested catalog with its margins exported; each test works
    on a copy."""
    path = str(tmp_path_factory.mktemp("margin_export") / NAME)
    cat = partition_catalog(
        spark.createDataFrame(_pdf(6000)), path, NAME,
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=3000, order_k=4, write_margins=True,
    )
    assert cat.meta.margins_exported and cat.margin_df() is not None
    rep = cat.fsck()
    assert rep["consistent"] and not rep["unvouched_margins"], rep
    return path


@pytest.fixture
def cat(spark, exported, tmp_path):
    path = str(tmp_path / NAME)
    shutil.copytree(exported, path)
    return Catalog.load(spark, path, NAME)


def _batch(spark):
    return spark.createDataFrame(_pdf(300, start=100_000))


def _rows(cat):
    return sorted(
        (r["source_id"], r["_ID"], r["Norder"], r["Npix"])
        for r in cat.df().collect()
    )


class _Boom(RuntimeError):
    pass


def _boom(*a, **k):
    raise _Boom("injected crash at the final commit")


def _replayed_append(spark, cat):
    """Append whose commit crashes, replayed from the durable state
    under the same batch id, as foreachBatch does after a restart."""
    orig = Catalog._commit_meta
    Catalog._commit_meta = _boom
    try:
        with pytest.raises(_Boom):
            cat.append(_batch(spark), batch_id=0)
    finally:
        Catalog._commit_meta = orig
    return Catalog.load(spark, cat.path, NAME).append(_batch(spark), batch_id=0)


MUTATIONS = {
    "append": lambda spark, cat: cat.append(_batch(spark)),
    "replayed_append": _replayed_append,
    "delete": lambda spark, cat: cat.delete("source_id < 600"),
    "rebalance": lambda spark, cat: cat.rebalance(threshold=700),
}


@pytest.mark.parametrize("op", sorted(MUTATIONS))
def test_mutation_withdraws_margin_export(spark, cat, op):
    before = cat.meta
    out = MUTATIONS[op](spark, cat)
    assert out.meta.hips != before.hips or out.meta.n_sources != before.n_sources
    assert out.margin_df() is None
    assert cat.margin_df() is None  # a pre-mutation handle reads the commit
    assert not os.path.exists(f"{cat.path}/neighbor")
    committed = Catalog.load(spark, cat.path, NAME)
    assert not committed.meta.margins_exported
    assert committed.fsck()["consistent"]


@pytest.mark.parametrize("op", ["append", "delete", "rebalance"])
def test_crash_after_withdrawal_leaves_rows_unchanged(spark, cat, op):
    """The withdrawal rides the mutation's commit.  A crash at that
    publish, after the data write: the rows are the pre-mutation rows,
    and the export still vouched for is still valid, since it describes
    exactly those rows.  fsck reports only the crashed write's unlisted
    files, and repair removes them without touching the export."""
    before = _rows(cat)
    halo = sorted(tuple(r) for r in cat.margin_df().select("source_id", "Npix").collect())
    orig = Catalog._commit_meta
    Catalog._commit_meta = _boom
    try:
        with pytest.raises(_Boom):
            MUTATIONS[op](spark, cat)
    finally:
        Catalog._commit_meta = orig

    torn = Catalog.load(spark, cat.path, NAME)
    assert _rows(torn) == before
    assert torn.meta.n_sources == len(before)
    assert torn.meta.margins_exported
    assert sorted(
        tuple(r) for r in torn.margin_df().select("source_id", "Npix").collect()
    ) == halo
    rep = torn.fsck()
    assert rep["unlisted_files"] and not rep["unvouched_margins"], rep
    assert torn.fsck(repair=True)["repaired"]
    healed = Catalog.load(spark, cat.path, NAME)
    assert healed.fsck()["consistent"]
    assert _rows(healed) == before and healed.margin_df() is not None


@pytest.mark.parametrize("op", ["delete", "rebalance"])
def test_retry_on_the_crashed_handle_keeps_the_export_withdrawn(spark, cat, op):
    """The handle a crashed mutation ran on still holds metadata that
    vouches for the export.  Retried through that handle, the mutation
    plans from the committed version, so it never commits the stale
    vouch again: the delete crashed before its publish and the retry
    applies it; the rebalance crashed after its publish and the retry
    finds nothing left to split."""
    seam = "_commit_meta" if op == "delete" else "_drop_superseded"
    orig = getattr(Catalog, seam)
    setattr(Catalog, seam, _boom)
    try:
        with pytest.raises(_Boom):
            MUTATIONS[op](spark, cat)
    finally:
        setattr(Catalog, seam, orig)
    assert cat.meta.margins_exported  # the stale in-memory copy

    out = MUTATIONS[op](spark, cat)
    assert not Catalog.load(spark, cat.path, NAME).meta.margins_exported
    assert out.margin_df() is None
    out.fsck(repair=True)  # the rebalance's superseded files, if any
    assert Catalog.load(spark, cat.path, NAME).fsck()["consistent"]
    assert not os.path.exists(f"{cat.path}/neighbor")


def test_fsck_reports_and_removes_unvouched_margins(spark, cat):
    """A crash after a mutation's publish and before it removes
    neighbor/ leaves a directory the metadata does not vouch for:
    margin_df ignores it, fsck reports it, and repair removes it."""

    class KeepNeighborFS(LocalFS):
        def rmtree(self, path):
            if path.endswith("/neighbor"):
                raise _Boom("injected crash before neighbor/ is removed")
            super().rmtree(path)

    n0 = len(_rows(cat))
    with pytest.raises(_Boom):
        Catalog(spark, cat.path, cat.meta, fs=KeepNeighborFS()).append(_batch(spark))
    torn = Catalog.load(spark, cat.path, NAME)
    after = _rows(torn)
    assert len(after) == n0 + 300  # the append committed
    assert os.path.isdir(f"{cat.path}/neighbor")
    assert torn.margin_df() is None
    rep = torn.fsck()
    assert rep["unvouched_margins"] and not rep["consistent"], rep

    assert torn.fsck(repair=True)["repaired"]
    assert not os.path.exists(f"{cat.path}/neighbor")
    healed = Catalog.load(spark, cat.path, NAME)
    assert healed.fsck()["consistent"]
    assert _rows(healed) == after  # repair touched no catalog row


def test_metadata_without_the_flag_reads_not_exported(spark, cat):
    """Metadata written before the flag existed vouches for nothing."""
    meta_path = f"{cat.path}/{NAME}_meta.json"
    with open(meta_path) as f:
        d = json.load(f)
    del d["margins_exported"]
    assert not CatalogMetadata.from_json(json.dumps(d)).margins_exported
    with open(meta_path, "w") as f:
        json.dump(d, f)
    legacy = Catalog.load(spark, cat.path, NAME)
    assert legacy.margin_df() is None
    assert legacy.fsck()["unvouched_margins"]


@pytest.mark.parametrize("margin", [0.1, 0.5])
def test_margin_plan_keeps_the_samples_of_the_dense_distance_test(margin):
    """The ring table's local boundary samples are exactly those a dense
    ring-entry-by-sample distance test keeps (the superset argument
    rests on that test), on a plan with leaves from order 1 to 8."""
    import warnings

    import lsd2_spark.healpix as hpx
    from lsd2_spark.operators.margins import margin_candidate_entries, margin_ring_order

    hips = {1: [3, 40], 3: [100, 101, 700], 5: [11_267, 9000], 8: [9001 * 64 + 5, 40_000]}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the order-8 leaves are near the margin scale
        got = margin_candidate_entries(hips, margin)
    ka = margin_ring_order(margin)
    for o, pixels in hips.items():
        kf = max(o + 1, ka)
        tbl = got[kf]
        mine = np.asarray(tbl["Norder"]) == o
        owners = np.asarray(tbl["Npix"])[mine]
        rings = np.asarray(tbl["ring_pix"])[mine]
        samples_ra = tbl["_b_ra"].to_pylist()
        samples_dec = tbl["_b_dec"].to_pylist()
        rows = np.nonzero(mine)[0]
        n_pe = int(np.clip(np.ceil(4.0 * hpx.max_pixrad(o) / margin), 4, 4096))
        assert set(owners.tolist()) == set(pixels)
        for ow in pixels:
            bra, bdec = hpx.boundary_samples(o, [ow], n_per_edge=n_pe)
            gap = hpx.gc_dist_deg(bra, bdec, np.roll(bra, -1, 1), np.roll(bdec, -1, 1)).max()
            sel = owners == ow
            cra, cdec = hpx.pix2ang(kf, rings[sel])
            d = hpx.gc_dist_deg(cra[:, None], cdec[:, None], bra, bdec)
            keep = d <= margin + hpx.max_pixrad(kf) + gap
            for row, k in zip(rows[sel], keep):
                want = sorted(zip(bra[0][k], bdec[0][k]))
                assert sorted(zip(samples_ra[row], samples_dec[row])) == want
            assert np.allclose(np.asarray(tbl["_b_eps"])[rows[sel]], gap / 2.0)
