"""Pure-NumPy HEALPix (NESTED scheme) — the spatial core of lsd2_spark.

The reference engine (astronomy-commons/lsd2) leans on the compiled
``healpy`` package for every pixel operation (reference:
hipscat/util.py:24, hipscat/dask_utils.py:67).  healpy is not available
in this environment, so this module re-implements the *published*
HEALPix geometry (Górski et al. 2005, ApJ 622, 759 — the standard
ang2pix/pix2ang algorithms) as vectorized NumPy, plus the small set of
derived helpers the engine needs:

- ``ang2pix(order, ra, dec)`` / ``pix2ang(order, pix)``  (nested)
- ``parent`` / ``children`` pixel algebra (bit shifts;
  reference: hipscat/util.py:87-146)
- ``neighbors(order, pix)`` — adjacency sets, derived by sampling a
  thin ring just outside each pixel's boundary (robust at face
  boundaries and poles; avoids hand-copied adjacency tables)
- ``cone_cover(order, ra, dec, radius)`` — hierarchical superset cover
  of a spherical disc (replaces healpy.query_disc(inclusive=True);
  reference: hipscat/catalog.py:93-97)
- ``max_pixrad(order)`` / ``min_pixwidth(order)`` — conservative
  per-order geometry bounds used by the cover and margin machinery.

Everything is float64 / int64 vectorized; no Python-level loops over
rows.  Pixels are int64 (max order 28 keeps ``12*4^order`` within
signed-64 range; the engine uses orders ≤ 20).

Angle conventions: ra/dec in **degrees** everywhere at the API surface
(matches the reference's user-facing convention, hipscat/util.py:211).
Internally: z = sin(dec), phi = ra in radians.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "MAX_ORDER",
    "npix",
    "nside",
    "ang2pix",
    "pix2ang",
    "parent",
    "children",
    "pix_area_sr",
    "max_pixrad",
    "min_pixwidth",
    "neighbors",
    "cone_cover",
    "boundary_samples",
    "gc_dist_deg",
]

MAX_ORDER = 28

# Ring/longitude offsets of the 12 base faces (public HEALPix geometry).
_JRLL = np.array([2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4], dtype=np.float64)
_JPLL = np.array([1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7], dtype=np.float64)


def nside(order: int) -> int:
    return 1 << order


def npix(order: int) -> int:
    return 12 * (1 << (2 * order))


# ---------------------------------------------------------------------------
# Z-order (Morton) bit interleaving, 64-bit, vectorized
# ---------------------------------------------------------------------------


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v to the even bit positions."""
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compress_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: gather even bit positions into low bits."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def _xyf_to_pix(ix: np.ndarray, iy: np.ndarray, face: np.ndarray, order: int) -> np.ndarray:
    scale = np.int64(1) << np.int64(2 * order)
    morton = (_spread_bits(ix) | (_spread_bits(iy) << np.uint64(1))).astype(np.int64)
    return face.astype(np.int64) * scale + morton


def _pix_to_xyf(pix: np.ndarray, order: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    scale = np.int64(1) << np.int64(2 * order)
    face = pix // scale
    morton = (pix - face * scale).astype(np.uint64)
    ix = _compress_bits(morton).astype(np.int64)
    iy = _compress_bits(morton >> np.uint64(1)).astype(np.int64)
    return ix, iy, face.astype(np.int64)


# ---------------------------------------------------------------------------
# ang2pix (nested) — standard published algorithm, vectorized
# ---------------------------------------------------------------------------


def ang2pix(order: int, ra_deg, dec_deg) -> np.ndarray:
    """(ra, dec) degrees → nested pixel index at ``order``. Vectorized."""
    if not 0 <= order <= MAX_ORDER:
        raise ValueError(f"order must be in [0, {MAX_ORDER}]")
    ra = np.asarray(ra_deg, dtype=np.float64)
    dec = np.asarray(dec_deg, dtype=np.float64)
    ra, dec = np.broadcast_arrays(ra, dec)
    ns = nside(order)

    z = np.sin(np.radians(dec))
    phi = np.radians(np.mod(ra, 360.0))
    tt = np.mod(phi * (2.0 / np.pi), 4.0)  # longitude in [0,4)

    ix = np.empty(z.shape, dtype=np.int64)
    iy = np.empty(z.shape, dtype=np.int64)
    face = np.empty(z.shape, dtype=np.int64)

    eq = np.abs(z) <= 2.0 / 3.0

    # --- equatorial belt ---
    if np.any(eq):
        tte, ze = tt[eq], z[eq]
        temp1 = ns * (0.5 + tte)
        temp2 = ns * (ze * 0.75)
        jp = np.floor(temp1 - temp2).astype(np.int64)  # ascending edge line
        jm = np.floor(temp1 + temp2).astype(np.int64)  # descending edge line
        ifp = jp >> order
        ifm = jm >> order
        f = np.where(
            ifp == ifm,
            (ifp & 3) + 4,
            np.where(ifp < ifm, ifp & 3, (ifm & 3) + 8),
        )
        face[eq] = f
        ix[eq] = jm & (ns - 1)
        iy[eq] = ns - (jp & (ns - 1)) - 1

    # --- polar caps ---
    po = ~eq
    if np.any(po):
        ttp, zp = tt[po], z[po]
        ntt = np.minimum(ttp.astype(np.int64), 3)
        tp = ttp - ntt
        tmp = ns * np.sqrt(3.0 * (1.0 - np.abs(zp)))
        jp = np.minimum((tp * tmp).astype(np.int64), ns - 1)
        jm = np.minimum(((1.0 - tp) * tmp).astype(np.int64), ns - 1)
        north = zp >= 0
        face[po] = np.where(north, ntt, ntt + 8)
        ix[po] = np.where(north, ns - jm - 1, jp)
        iy[po] = np.where(north, ns - jp - 1, jm)

    return _xyf_to_pix(ix, iy, face, order)


# ---------------------------------------------------------------------------
# Fractional face coordinates → (z, phi): one formula for centers,
# corners, and boundary samples.  x, y in [0, 1] across the base face
# (pixel (ix,iy) at order o has center ((ix+0.5)/nside, (iy+0.5)/nside)).
# Values slightly outside [0,1] extrapolate continuously (used by the
# neighbor-ring sampler); over-pole excursions are reflected.
# ---------------------------------------------------------------------------


def _fxy_to_zphi(face: np.ndarray, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    jr = _JRLL[face] - x - y  # "ring" coordinate in [jrll-2, jrll]
    h = x - y

    z = np.empty(jr.shape, dtype=np.float64)
    phi = np.empty(jr.shape, dtype=np.float64)

    # reflect excursions beyond the poles (w<0 north, w>4 south)
    over_n = jr < 0
    over_s = jr > 4
    jr = np.where(over_n, -jr, jr)
    jr = np.where(over_s, 8.0 - jr, jr)

    north = jr < 1.0
    south = jr > 3.0
    belt = ~(north | south)

    if np.any(belt):
        z[belt] = (2.0 - jr[belt]) * (2.0 / 3.0)
        phi[belt] = (np.pi / 4.0) * (_JPLL[face[belt]] + h[belt])
    if np.any(north):
        w = jr[north]
        z[north] = 1.0 - (w * w) / 3.0
        hw = np.divide(h[north], w, out=np.zeros_like(w), where=w > 0)
        phi[north] = (np.pi / 4.0) * (_JPLL[face[north]] + hw)
    if np.any(south):
        w = 4.0 - jr[south]
        z[south] = -1.0 + (w * w) / 3.0
        hw = np.divide(h[south], w, out=np.zeros_like(w), where=w > 0)
        phi[south] = (np.pi / 4.0) * (_JPLL[face[south]] + hw)

    phi = np.where(over_n | over_s, phi + np.pi, phi)
    return np.clip(z, -1.0, 1.0), np.mod(phi, 2.0 * np.pi)


def _zphi_to_radec(z: np.ndarray, phi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return np.degrees(phi), np.degrees(np.arcsin(z))


def pix2ang(order: int, pix) -> tuple[np.ndarray, np.ndarray]:
    """Nested pixel → (ra, dec) degrees of the pixel **center**."""
    pix = np.asarray(pix, dtype=np.int64)
    ix, iy, face = _pix_to_xyf(pix, order)
    ns = float(nside(order))
    z, phi = _fxy_to_zphi(face, (ix + 0.5) / ns, (iy + 0.5) / ns)
    return _zphi_to_radec(z, phi)


def boundary_samples(order: int, pix, n_per_edge: int = 4) -> tuple[np.ndarray, np.ndarray]:
    """(ra, dec) samples along each pixel's boundary (corners included).

    Returns arrays of shape (len(pix), 4*n_per_edge).  Used for
    conservative point-to-cell distance bounds in the margin machinery
    (reference analogue: hipscat/margin_utils.py:209-305 polygon test).
    """
    pix = np.asarray(pix, dtype=np.int64).ravel()
    ix, iy, face = _pix_to_xyf(pix, order)
    ns = float(nside(order))
    t = np.arange(n_per_edge, dtype=np.float64) / n_per_edge  # [0,1) per edge
    # walk the 4 edges of the unit pixel: (t,0) (1,t) (1-t,1) (0,1-t)
    ex = np.concatenate([t, np.ones_like(t), 1.0 - t, np.zeros_like(t)])
    ey = np.concatenate([np.zeros_like(t), t, np.ones_like(t), 1.0 - t])
    x = (ix[:, None] + ex[None, :]) / ns
    y = (iy[:, None] + ey[None, :]) / ns
    f = np.repeat(face[:, None], ex.size, axis=1)
    z, phi = _fxy_to_zphi(f.ravel(), x.ravel(), y.ravel())
    ra, dec = _zphi_to_radec(z, phi)
    return ra.reshape(len(pix), -1), dec.reshape(len(pix), -1)


# ---------------------------------------------------------------------------
# Pixel hierarchy algebra (reference: hipscat/util.py:87-146)
# ---------------------------------------------------------------------------


def parent(pix, delta_order: int) -> np.ndarray:
    return np.asarray(pix, dtype=np.int64) >> np.int64(2 * delta_order)


def children(pix, delta_order: int) -> np.ndarray:
    """All descendants of each pixel, delta_order levels down.

    Returns shape (len(pix), 4**delta_order).
    """
    pix = np.asarray(pix, dtype=np.int64).ravel()
    k = 4**delta_order
    base = pix[:, None] << np.int64(2 * delta_order)
    return base + np.arange(k, dtype=np.int64)[None, :]


def pix_area_sr(order: int) -> float:
    return 4.0 * np.pi / npix(order)


# ---------------------------------------------------------------------------
# Per-order geometry bounds (computed empirically once, then scaled with
# a safety margin; validated by property tests in tests/test_healpix.py)
# ---------------------------------------------------------------------------

_EXACT_BOUND_ORDER = 5
# Precomputed exact bounds (regenerate with _exact_maxrad(o)*1.01 /
# _exact_minwidth(o) — deterministic geometry; embedding them avoids a
# multi-second lazy computation in every Python worker process).
_maxrad_cache: dict[int, float] = {
    0: 48.671582, 1: 27.86151, 2: 14.717953, 3: 7.547555, 4: 3.820191, 5: 1.921628,
}
_minwidth_cache: dict[int, float] = {
    0: 43.370717, 1: 19.459957, 2: 9.399031, 3: 4.601729,
}


def gc_dist_deg(ra1, dec1, ra2, dec2) -> np.ndarray:
    """Great-circle separation in degrees (haversine), vectorized NumPy.

    Reference semantics: hipscat/util.py:211-223.
    """
    lon1, lat1 = np.radians(np.asarray(ra1, dtype=np.float64)), np.radians(
        np.asarray(dec1, dtype=np.float64)
    )
    lon2, lat2 = np.radians(np.asarray(ra2, dtype=np.float64)), np.radians(
        np.asarray(dec2, dtype=np.float64)
    )
    sdlat = np.sin((lat1 - lat2) / 2.0)
    sdlon = np.sin((lon1 - lon2) / 2.0)
    a = sdlat**2 + np.cos(lat1) * np.cos(lat2) * sdlon**2
    return np.degrees(2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0))))


def _exact_maxrad(order: int) -> float:
    """Exact max center→boundary distance over all pixels at ``order``."""
    allpix = np.arange(npix(order), dtype=np.int64)
    cra, cdec = pix2ang(order, allpix)
    bra, bdec = boundary_samples(order, allpix, n_per_edge=8)
    d = gc_dist_deg(cra[:, None], cdec[:, None], bra, bdec)
    return float(d.max())


def _exact_minwidth(order: int) -> float:
    """Max safe 'hop' distance at ``order``: the minimum boundary-to-
    boundary separation between any two NON-adjacent pixels.  A point
    displaced by less than this stays within its pixel's 1-ring —
    the invariant the margin machinery relies on."""
    allpix = np.arange(npix(order), dtype=np.int64)
    cra, cdec = pix2ang(order, allpix)
    bra, bdec = boundary_samples(order, allpix, n_per_edge=16)
    nbs = neighbors(order, allpix)
    best = np.inf
    # candidate non-adjacent pairs: centers within 4*maxrad
    lim = 4.0 * max_pixrad(order)
    for i in range(len(allpix)):
        d_c = gc_dist_deg(cra[i], cdec[i], cra, cdec)
        cand = np.where((d_c < lim) & (allpix != allpix[i]))[0]
        cand = cand[~np.isin(allpix[cand], nbs[i])]
        if cand.size == 0:
            continue
        d = gc_dist_deg(
            bra[i][:, None], bdec[i][:, None], bra[cand].ravel(), bdec[cand].ravel()
        )
        best = min(best, float(d.min()))
    return best * 0.9  # discrete boundary sampling slack


def max_pixrad(order: int) -> float:
    """Conservative upper bound (degrees) on any pixel's circumradius."""
    if order not in _maxrad_cache:
        if order <= _EXACT_BOUND_ORDER:
            _maxrad_cache[order] = _exact_maxrad(order) * 1.01
        else:
            # radius ratio per order approaches 0.5 from above; 0.55 is safe
            base = max_pixrad(_EXACT_BOUND_ORDER)
            _maxrad_cache[order] = base * 0.55 ** (order - _EXACT_BOUND_ORDER)
    return _maxrad_cache[order]


_MINWIDTH_EXACT_ORDER = 3


def min_pixwidth(order: int) -> float:
    """Conservative lower bound (degrees) on the safe hop distance: a
    point displaced by < min_pixwidth(order) stays in its pixel's
    1-ring (pixel ∪ neighbors)."""
    if order not in _minwidth_cache:
        if order <= _MINWIDTH_EXACT_ORDER:
            _minwidth_cache[order] = _exact_minwidth(order)
        else:
            # width ratio per order approaches 0.5 from below; 0.45 is safe
            base = min_pixwidth(_MINWIDTH_EXACT_ORDER)
            _minwidth_cache[order] = base * 0.45 ** (order - _MINWIDTH_EXACT_ORDER)
    return _minwidth_cache[order]


# ---------------------------------------------------------------------------
# Neighbors — adjacency derived by pushing exact boundary points a small
# spherical step outward from the pixel center.  Working directly on the
# sphere (slerp extrapolation) is valid across face boundaries and at
# the poles, where naive face-coordinate extrapolation is not.
# ---------------------------------------------------------------------------


def _radec_to_vec(ra_deg: np.ndarray, dec_deg: np.ndarray) -> np.ndarray:
    lon = np.radians(ra_deg)
    lat = np.radians(dec_deg)
    cl = np.cos(lat)
    return np.stack([cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)], axis=-1)


def _vec_to_radec(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ra = np.degrees(np.arctan2(v[..., 1], v[..., 0])) % 360.0
    dec = np.degrees(np.arcsin(np.clip(v[..., 2] / np.linalg.norm(v, axis=-1), -1, 1)))
    return ra, dec


# t-values per edge: cluster near corners so thin diagonal neighbors at
# warped face corners are captured.
_EDGE_T = np.array([0.0, 0.02, 0.15, 0.35, 0.5, 0.65, 0.85, 0.98])


def neighbors(order: int, pix, eps: float = 0.05) -> list[np.ndarray]:
    """Adjacent pixels of each input pixel (excluding itself).

    Returns a list of int64 arrays (7 or 8 entries each; the 24
    pole/face-corner pixels have 7).  Reference analogue:
    healpy.get_all_neighbours used at hipscat/margin_utils.py:174-199.
    """
    counts, flat = _neighbor_runs(order, np.asarray(pix, dtype=np.int64).ravel(), eps)
    return np.split(flat, np.cumsum(counts)[:-1]) if len(counts) else []


def _neighbor_runs(order: int, pix: np.ndarray, eps: float = 0.05) -> tuple[np.ndarray, np.ndarray]:
    """:func:`neighbors` as one flat array of every pixel's neighbours,
    in input order, and the number each pixel has."""
    if pix.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    cra, cdec = pix2ang(order, pix)
    c = _radec_to_vec(cra, cdec)  # (N, 3)

    ix, iy, face = _pix_to_xyf(pix, order)
    ns = float(nside(order))
    t = _EDGE_T
    ex = np.concatenate([t, np.ones_like(t), 1.0 - t, np.zeros_like(t)])
    ey = np.concatenate([np.zeros_like(t), t, np.ones_like(t), 1.0 - t])
    x = (ix[:, None] + ex[None, :]) / ns
    y = (iy[:, None] + ey[None, :]) / ns
    f = np.repeat(face[:, None], ex.size, axis=1)
    z, phi = _fxy_to_zphi(f.ravel(), x.ravel(), y.ravel())
    bra, bdec = _zphi_to_radec(z, phi)
    b = _radec_to_vec(bra, bdec).reshape(len(pix), -1, 3)  # (N, S, 3)

    # slerp extrapolation: rotate center→boundary by angle (1+eps)·θ
    cosang = np.clip(np.einsum("nsj,nj->ns", b, c), -1.0, 1.0)
    theta = np.arccos(cosang)  # (N, S), > 0 (boundary never at center)
    sin_t = np.sin(theta)
    w_c = -np.sin(eps * theta) / sin_t
    w_b = np.sin((1.0 + eps) * theta) / sin_t
    q = w_c[..., None] * c[:, None, :] + w_b[..., None] * b
    qra, qdec = _vec_to_radec(q)
    sampled = ang2pix(order, qra, qdec)
    # vectorized per-row unique: sort each row, mark first occurrences,
    # drop self — the previous per-row np.unique loop cost ~5 s at 1e5
    # pixels of driver planning time
    s = np.sort(sampled, axis=1)
    keep = np.ones(s.shape, dtype=bool)
    keep[:, 1:] = s[:, 1:] != s[:, :-1]
    keep &= s != pix[:, None]
    return keep.sum(axis=1), s[keep]


def neighbors_flat(order: int, pix) -> tuple[np.ndarray, np.ndarray]:
    """Flattened (src_pix, neighbor_pix) pairs for a batch of pixels."""
    pix = np.asarray(pix, dtype=np.int64).ravel()
    counts, dst = _neighbor_runs(order, pix)
    return np.repeat(pix, counts), dst


# ---------------------------------------------------------------------------
# Cone cover — hierarchical superset of pixels intersecting a disc
# (replaces healpy.query_disc(inclusive=True); reference:
#  hipscat/catalog.py:93-97)
# ---------------------------------------------------------------------------


def cone_cover(order: int, ra: float, dec: float, radius_deg: float) -> np.ndarray:
    """Pixels at ``order`` that *may* intersect the disc. Guaranteed
    superset (property-tested); callers apply the exact gc_dist filter.

    Hierarchical refinement: keep a pixel while
    dist(center, cone center) <= radius + max_pixrad(o), descend.
    """
    active = np.arange(12, dtype=np.int64)
    for o in range(0, order + 1):
        cra, cdec = pix2ang(o, active)
        d = gc_dist_deg(cra, cdec, ra, dec)
        active = active[d <= radius_deg + max_pixrad(o)]
        if o < order:
            if active.size == 0:
                return active
            active = children(active, 1).ravel()
    return np.sort(active)
