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
import warnings

import numpy as np
import pandas as pd
import pytest

from lsd2_spark.catalog import Catalog, CatalogMetadata, partition_catalog
from lsd2_spark.sources.fs import LocalFS
from tests.test_catalog_append import _executions_of

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


# -- the export's one probe join ---------------------------------------------


def _halo(cat):
    return {
        (int(r["Norder"]), int(r["Npix"]), int(r["source_id"]))
        for r in cat.margin_df().select("Norder", "Npix", "source_id").collect()
    }


@pytest.fixture(scope="module")
def multi_ring(spark, tmp_path_factory):
    """A catalog whose leaves span four ring orders at a 0.5 deg margin
    (leaves at orders 5 to 7 ring at orders 6 to 8, coarser leaves at
    5), exported from its stored rows: the rows, the catalog and the
    plan node names of the export."""
    pdf = _pdf(6000, start=7)
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path_factory.mktemp("multi_ring") / NAME), NAME,
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=200, order_k=7, margin_threshold=0.5, write_margins=False,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # leaves finer than the margin scale
        cat, runs = _executions_of(spark, cat.export_margins)
    return pdf, cat, [name for nodes, _ in runs for name, _ in nodes]


def test_export_from_stored_rows_runs_no_python(multi_ring):
    """The export shifts each row's ring pixel out of ``_ID``: its plan
    has no Arrow pixelization, and one probe join over every ring
    order."""
    _, _, nodes = multi_ring
    assert "ArrowEvalPython" not in nodes, nodes
    assert nodes.count("BroadcastHashJoin") == 1, nodes
    assert nodes.count("Generate") == 1, nodes


def test_export_over_ring_orders_equals_a_per_order_reference(multi_ring):
    """The one join over all ring orders keeps exactly the pairs a
    per-order NumPy reference keeps: rows whose pixel at the ring order
    is a ring entry's pixel, within ``margin + eps`` of the entry's
    boundary samples."""
    import lsd2_spark.healpix as hpx
    from lsd2_spark.operators.margins import margin_candidate_entries

    pdf, cat, _ = multi_ring
    margin = cat.meta.margin_threshold
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        entries = margin_candidate_entries(cat.meta.hips, margin)
    assert len(entries) >= 2, sorted(entries)
    ra, dec, ids = (pdf[c].to_numpy() for c in ("ra", "dec", "source_id"))
    want, near = set(), set()
    for kf, tbl in entries.items():
        pix = hpx.ang2pix(kf, ra, dec)
        by_pix = np.argsort(pix, kind="stable")
        lo = np.searchsorted(pix[by_pix], tbl["ring_pix"], "left")
        hi = np.searchsorted(pix[by_pix], tbl["ring_pix"], "right")
        b_ra, b_dec = tbl["_b_ra"].to_pylist(), tbl["_b_dec"].to_pylist()
        for e in np.nonzero(hi > lo)[0]:
            rows = by_pix[lo[e]:hi[e]]
            key = [(int(tbl["Norder"][e]), int(tbl["Npix"][e]), int(i)) for i in ids[rows]]
            d = hpx.gc_dist_deg(
                ra[rows, None], dec[rows, None], np.array(b_ra[e])[None], np.array(b_dec[e])[None]
            ).min(axis=1)
            thr = margin + tbl["_b_eps"][e]
            want |= {k for k, x in zip(key, d) if x <= thr}
            near |= {k for k, x in zip(key, d) if abs(x - thr) < 1e-9}
    got = _halo(cat)
    assert want and (got ^ want) <= near, (len(got), len(want), len(got ^ want))


def test_export_below_the_index_pixel_scale(spark, tmp_path):
    """A margin narrower than an order-19 pixel asks for ring orders
    past the spatial index; the rings stop at order 19 (a coarser ring
    holds the finer one's pixels), so the export still shifts ``_ID``
    and keeps every row within the margin of a foreign leaf: here rows
    planted on the leaves' boundaries."""
    import lsd2_spark.healpix as hpx
    from lsd2_spark.operators.margins import margin_ring_order

    margin = 1e-6
    assert margin_ring_order(margin) > 19
    rng = np.random.default_rng(3)
    r = 0.3 * np.sqrt(rng.uniform(0, 1, 800))
    t = rng.uniform(0, 2 * np.pi, 800)
    patch = pd.DataFrame({
        "source_id": np.arange(800, dtype=np.int64),
        "ra": 45 + r * np.cos(t) / np.cos(np.radians(10)),
        "dec": 10 + r * np.sin(t),
        "mag": rng.uniform(10, 22, 800),
    })
    cat = partition_catalog(
        spark.createDataFrame(patch), str(tmp_path / NAME), NAME,
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=100, order_k=9, margin_threshold=margin, write_margins=False,
    )
    hips = cat.meta.hips
    leaves = [(o, p) for o, ps in hips.items() for p in ps]
    samples = [hpx.boundary_samples(o, [p], n_per_edge=16) for o, p in leaves]
    # boundary samples of one leaf that lie in another: rows the halo of
    # the first must hold
    owner = np.repeat(np.arange(len(leaves)), [b.size for b, _ in samples])
    s_ra = np.concatenate([b.ravel() for b, _ in samples])
    s_dec = np.concatenate([d.ravel() for _, d in samples])
    home = np.full(len(s_ra), -1)
    for i, (o, p) in enumerate(leaves):
        home[hpx.ang2pix(o, s_ra, s_dec) == p] = i
    planted = (home >= 0) & (home != owner)
    assert planted.any()
    extra = pd.DataFrame({
        "source_id": np.arange(10_000, 10_000 + planted.sum(), dtype=np.int64),
        "ra": s_ra[planted],
        "dec": s_dec[planted],
        "mag": 15.0,
    })
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # leaves over the threshold
        cat = cat.append(spark.createDataFrame(extra))
    assert cat.meta.hips == hips
    got = _halo(cat.export_margins())
    rows = pd.concat([patch, extra], ignore_index=True)
    ra, dec = rows["ra"].to_numpy(), rows["dec"].to_numpy()
    need = 0
    for (o, p), (bra, bdec) in zip(leaves, samples):
        inside = hpx.ang2pix(o, ra, dec) == p
        d = hpx.gc_dist_deg(ra[:, None], dec[:, None], bra.ravel()[None], bdec.ravel()[None])
        for sid in rows.loc[(d.min(axis=1) < margin * 0.9) & ~inside, "source_id"]:
            need += 1
            assert (o, p, int(sid)) in got, (o, p, sid)
    assert need >= planted.sum()
