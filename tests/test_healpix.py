"""Property tests for the pure-NumPy HEALPix core.

healpy is unavailable here, so correctness rests on strong internal
invariants (bidirectional roundtrip, hierarchy, equal-area, adjacency
closure, cover supersets) rather than cross-library comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import lsd2_spark.healpix as hpx

RNG = np.random.default_rng(42)


def _random_points(n: int) -> tuple[np.ndarray, np.ndarray]:
    ra = RNG.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(RNG.uniform(-1, 1, n)))
    return ra, dec


def _tangent_displace(ra, dec, step_deg, ang):
    v = hpx._radec_to_vec(ra, dec)
    e1 = np.cross(v, [0.0, 0.0, 1.0])
    nrm = np.linalg.norm(e1, axis=1)
    ok = nrm > 1e-9
    e1[ok] /= nrm[ok, None]
    e1[~ok] = [1.0, 0.0, 0.0]
    e2 = np.cross(v, e1)
    e2 /= np.linalg.norm(e2, axis=1)[:, None]
    s = np.broadcast_to(np.radians(step_deg), ang.shape)[:, None]
    q = v * np.cos(s) + (e1 * np.cos(ang)[:, None] + e2 * np.sin(ang)[:, None]) * np.sin(s)
    return hpx._vec_to_radec(q)


@pytest.mark.parametrize("order", [0, 1, 4, 9, 16, 20])
def test_roundtrip_and_hierarchy(order):
    ra, dec = _random_points(50_000)
    pix = hpx.ang2pix(order, ra, dec)
    assert pix.min() >= 0 and pix.max() < hpx.npix(order)
    cra, cdec = hpx.pix2ang(order, pix)
    assert (hpx.ang2pix(order, cra, cdec) == pix).all()
    if order < hpx.MAX_ORDER:
        finer = hpx.ang2pix(order + 1, ra, dec)
        assert ((finer >> 2) == pix).all()
    d = hpx.gc_dist_deg(ra, dec, cra, cdec)
    assert (d <= hpx.max_pixrad(order)).all()


def test_equal_area_coverage():
    ra, dec = _random_points(200_000)
    pix = hpx.ang2pix(2, ra, dec)
    counts = np.bincount(pix, minlength=hpx.npix(2))
    assert (counts > 0).all()
    assert counts.max() / counts.min() < 1.35  # equal-area within sampling noise


@pytest.mark.parametrize("order", [0, 1, 3, 8, 14])
def test_neighbor_closure(order):
    """A displacement smaller than min_pixwidth never leaves the 1-ring."""
    n = 5_000
    ra, dec = _random_points(n)
    p = hpx.ang2pix(order, ra, dec)
    step = hpx.min_pixwidth(order) * 0.95
    ra2, dec2 = _tangent_displace(ra, dec, step, RNG.uniform(0, 2 * np.pi, n))
    p2 = hpx.ang2pix(order, ra2, dec2)
    moved = p2 != p
    uniq = np.unique(p[moved])
    nbmap = {int(a): set(b.tolist()) for a, b in zip(uniq, hpx.neighbors(order, uniq))}
    assert all(int(b) in nbmap[int(a)] for a, b in zip(p[moved], p2[moved]))


def test_neighbor_symmetry():
    for order in [1, 2]:
        allpix = np.arange(hpx.npix(order))
        nbmap = {
            int(q): set(a.tolist()) for q, a in zip(allpix, hpx.neighbors(order, allpix))
        }
        for q, s in nbmap.items():
            assert 6 <= len(s) <= 8
            for r in s:
                assert q in nbmap[int(r)]


@pytest.mark.parametrize("order", [3, 6, 9])
def test_cone_cover_superset(order):
    for _ in range(15):
        cra = float(RNG.uniform(0, 360))
        cdec = float(np.degrees(np.arcsin(RNG.uniform(-1, 1))))
        r = float(RNG.uniform(0.01, 30))
        cover = set(hpx.cone_cover(order, cra, cdec, r).tolist())
        m = 2_000
        t = RNG.uniform(0, 1, m) ** 0.5 * r
        ra_s, dec_s = _tangent_displace(
            np.full(m, cra), np.full(m, cdec), t, RNG.uniform(0, 2 * np.pi, m)
        )
        pts = hpx.ang2pix(order, ra_s, dec_s)
        assert set(np.unique(pts).tolist()) <= cover


def test_parent_children_inverse():
    pix = np.arange(hpx.npix(2))
    kids = hpx.children(pix, 2)
    assert kids.shape == (len(pix), 16)
    assert (hpx.parent(kids, 2) == pix[:, None]).all()


def test_ra_wraparound_and_poles():
    # identical sky positions expressed at ra=0 / ra=360 pixelize identically
    dec = np.linspace(-89.9, 89.9, 100)
    assert (hpx.ang2pix(10, np.zeros(100), dec) == hpx.ang2pix(10, np.full(100, 360.0), dec)).all()
    # poles are valid inputs
    for order in [0, 5, 12]:
        p_n = hpx.ang2pix(order, np.array([0.0, 120.0]), np.array([90.0, 90.0]))
        p_s = hpx.ang2pix(order, np.array([0.0, 120.0]), np.array([-90.0, -90.0]))
        assert (p_n >= 0).all() and (p_s < hpx.npix(order)).all()


def test_ang2pix_udf_fast_path_and_null_propagation(spark):
    """The Arrow kernel returns ``hpx.ang2pix``'s pixels as they come
    when a batch has no NULL coordinate, and NULL for a NULL coordinate
    otherwise — both called directly and through Spark."""
    from pyspark.sql import functions as F

    from lsd2_spark.functions.healpix_cols import _ang2pix_kernel, ang2pix_udf

    ra, dec = _random_points(2_000)
    kernel = _ang2pix_kernel.func
    order = pd.Series(np.full(len(ra), 12))
    fast = kernel(order, pd.Series(ra), pd.Series(dec))
    assert fast.dtype == np.int64
    assert (fast.to_numpy() == hpx.ang2pix(12, ra, dec)).all()
    holed = pd.Series(ra).where(np.arange(len(ra)) % 7 != 3)
    masked = kernel(order, holed, pd.Series(dec))
    assert masked.isna().to_numpy().tolist() == holed.isna().to_numpy().tolist()
    keep = holed.notna().to_numpy()
    assert (masked[keep].to_numpy(dtype=np.int64) == hpx.ang2pix(12, ra[keep], dec[keep])).all()

    pdf = pd.DataFrame({"i": np.arange(6), "ra": ra[:6], "dec": dec[:6]})
    df = spark.createDataFrame(pdf).selectExpr(
        "i", "CASE WHEN i = 4 THEN NULL ELSE ra END AS ra", "dec")
    got = (
        df.select("i", ang2pix_udf(12, F.col("ra"), F.col("dec")).alias("pix"))
        .toPandas().sort_values("i")["pix"].tolist()
    )
    want = hpx.ang2pix(12, ra[:6], dec[:6]).tolist()
    assert got[4] is None or pd.isna(got[4])
    assert [g for i, g in enumerate(got) if i != 4] == [w for i, w in enumerate(want) if i != 4]
