"""Seeded input generator for the survey-engine benchmark.

Everything here is NumPy + pyarrow; the engine under test only ever sees
the Parquet files written by :func:`generate`.  The same seed and size
profile give byte-identical files.

The sky carries the density structure that drives adaptive partitioning:

- a uniform all-sky background;
- a Laplace-profile "galactic" band (scale height ``BAND_SCALE_DEG``);
- a few sub-degree Plummer-profile blobs (globular-cluster shape);
- empty regions (survey holes) where no source of any component lands.

The cross-match partner has a different profile (an "ecliptic" band and
its own blobs) over roughly half the sky (``dec > PARTNER_DEC_MIN``) and
carries planted true matches: perturbed copies of survey sources.  The
night batches are sky-localized survey fields with fresh ids.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# J2000 galactic -> equatorial rotation (rows: x, y, z of the equatorial
# frame expressed in galactic unit vectors; the transpose of the standard
# equatorial -> galactic matrix).
_GAL_TO_EQ = np.array(
    [
        [-0.0548755604, +0.4941094279, -0.8676661490],
        [-0.8734370902, -0.4448296300, -0.1980763734],
        [-0.4838350155, +0.7469822445, +0.4559837762],
    ]
)
# mean obliquity of the ecliptic (J2000), for the partner's band
_OBLIQUITY_DEG = 23.4393

# survey holes: (ra, dec, radius) caps that hold no source at all
EMPTY_CAPS = ((300.0, -55.0, 12.0), (75.0, 60.0, 9.0), (200.0, 5.0, 6.0))
PARTNER_DEC_MIN = 0.0  # the partner covers dec > 0: about half the sky
PLANT_SIGMA_DEG = 0.3 / 3600.0  # positional scatter of planted matches
PLANT_FRAC = 0.3  # of partner rows that are planted matches
# survey sky: shares of rows in the galactic band and in the blobs (the
# rest is uniform background), the band's scale height and the blobs'
# Plummer core radius
BAND_FRAC = 0.40
BLOB_FRAC = 0.08
BAND_SCALE_DEG = 6.0
N_BLOBS = 4
BLOB_CORE_DEG = 0.7
FIELD_RADIUS_DEG = 1.75  # night field (an LSST-like pointing)


@dataclass(frozen=True)
class Profile:
    """Input sizes; ``threshold`` sets the catalog's leaf count."""

    survey_rows: int
    partner_rows: int
    night_batches: int
    night_rows: int
    threshold: int
    order_k: int


# the benchmark's profile and a tiny one for the self-test
FULL = Profile(
    survey_rows=100_000, partner_rows=40_000, night_batches=5, night_rows=1_000,
    threshold=1500, order_k=8,
)
TINY = Profile(
    survey_rows=6_000, partner_rows=3_000, night_batches=2, night_rows=200,
    threshold=400, order_k=6,
)


# -- sphere helpers ---------------------------------------------------------


def radec_to_vec(ra, dec) -> np.ndarray:
    ra, dec = np.radians(ra), np.radians(dec)
    cd = np.cos(dec)
    return np.stack([cd * np.cos(ra), cd * np.sin(ra), np.sin(dec)], axis=-1)


def vec_to_radec(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    v = v / np.linalg.norm(v, axis=-1, keepdims=True)
    ra = np.degrees(np.arctan2(v[:, 1], v[:, 0])) % 360.0
    dec = np.degrees(np.arcsin(np.clip(v[:, 2], -1.0, 1.0)))
    return ra, dec


def gc_dist_deg(ra1, dec1, ra2, dec2) -> np.ndarray:
    """Haversine great-circle separation in degrees."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(x, dtype=np.float64))
                              for x in (ra1, dec1, ra2, dec2))
    a = (np.sin((lat1 - lat2) / 2.0) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lon1 - lon2) / 2.0) ** 2)
    return np.degrees(2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0))))


def uniform_sphere(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    ra = rng.uniform(0.0, 360.0, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    return ra, dec


def offset_points(rng, ra0, dec0, theta_deg) -> tuple[np.ndarray, np.ndarray]:
    """Points at angular distance ``theta_deg`` from (ra0, dec0) in
    uniformly random directions (exact spherical offset)."""
    theta = np.radians(theta_deg)
    phi = rng.uniform(0.0, 2.0 * np.pi, len(theta))
    c = radec_to_vec(ra0, dec0)
    # orthonormal tangent basis at each centre
    east = np.stack([-np.sin(np.radians(ra0)), np.cos(np.radians(ra0)),
                     np.zeros_like(np.asarray(ra0, dtype=float))], axis=-1)
    north = np.cross(c, east)
    d = np.cos(phi)[:, None] * east + np.sin(phi)[:, None] * north
    v = np.cos(theta)[:, None] * c + np.sin(theta)[:, None] * d
    return vec_to_radec(v)


def in_empty_region(ra, dec) -> np.ndarray:
    out = np.zeros(len(ra), dtype=bool)
    for cra, cdec, r in EMPTY_CAPS:
        out |= gc_dist_deg(ra, dec, cra, cdec) < r
    return out


# -- sky components ----------------------------------------------------------


def _band(rng, n, scale_deg, to_eq: np.ndarray):
    """Laplace-profile band around the equator of a rotated frame."""
    lon = rng.uniform(0.0, 360.0, n)
    lat = np.clip(rng.laplace(0.0, scale_deg, n), -89.9, 89.9)
    v = radec_to_vec(lon, lat) @ to_eq.T
    return vec_to_radec(v)


def _blobs(rng, n, centres, core_deg):
    """Plummer-profile clusters: projected radius R = a / sqrt(u^-1 - 1)
    for u uniform gives the Plummer surface-density profile; truncated
    at 10 core radii so a blob stays sub-field-sized."""
    which = rng.integers(0, len(centres), n)
    u = rng.uniform(0.0, 1.0, n)
    r = np.minimum(core_deg / np.sqrt(1.0 / np.maximum(u, 1e-12) - 1.0), 10 * core_deg)
    ra0 = np.array([c[0] for c in centres])[which]
    dec0 = np.array([c[1] for c in centres])[which]
    return offset_points(rng, ra0, dec0, r)


def _fill(rng, n, draw):
    """Draw ``n`` points from ``draw(rng, m)``, rejecting empty regions."""
    ras, decs, have = [], [], 0
    while have < n:
        ra, dec = draw(rng, int((n - have) * 1.2) + 16)
        keep = ~in_empty_region(ra, dec)
        ras.append(ra[keep])
        decs.append(dec[keep])
        have += int(keep.sum())
    return np.concatenate(ras)[:n], np.concatenate(decs)[:n]


def _blob_centres(rng, k, dec_min=-70.0, dec_max=70.0):
    out = []
    while len(out) < k:
        ra, dec = rng.uniform(0, 360), rng.uniform(dec_min, dec_max)
        if not in_empty_region(np.array([ra]), np.array([dec]))[0]:
            out.append((ra, dec))
    return out


def _ecliptic_to_eq() -> np.ndarray:
    e = np.radians(_OBLIQUITY_DEG)
    return np.array([[1, 0, 0], [0, np.cos(e), -np.sin(e)], [0, np.sin(e), np.cos(e)]])


# -- catalogs ----------------------------------------------------------------


def survey(rng, p: Profile):
    n_band = int(p.survey_rows * BAND_FRAC)
    n_blob = int(p.survey_rows * BLOB_FRAC)
    n_bg = p.survey_rows - n_band - n_blob
    centres = _blob_centres(rng, N_BLOBS)
    parts = [
        _fill(rng, n_bg, uniform_sphere),
        _fill(rng, n_band, lambda g, m: _band(g, m, BAND_SCALE_DEG, _GAL_TO_EQ)),
        _fill(rng, n_blob, lambda g, m: _blobs(g, m, centres, BLOB_CORE_DEG)),
    ]
    ra = np.concatenate([x[0] for x in parts])
    dec = np.concatenate([x[1] for x in parts])
    perm = rng.permutation(len(ra))
    ra, dec = ra[perm], dec[perm]
    ids = np.arange(len(ra), dtype=np.int64) * 7 + 1  # sparse, non-contiguous ids
    return _table(rng, ids, ra, dec)


def partner(rng, p: Profile, surv: pa.Table):
    """Half-sky partner: planted perturbed copies of survey sources plus
    its own ecliptic band, background and blobs (different leaf orders)."""
    s_ra = surv.column("ra").to_numpy()
    s_dec = surv.column("dec").to_numpy()
    in_fp = np.nonzero(s_dec > PARTNER_DEC_MIN)[0]
    n_plant = min(int(p.partner_rows * PLANT_FRAC), len(in_fp))
    src = np.sort(rng.choice(in_fp, n_plant, replace=False))
    pra, pdec = offset_points(
        rng, s_ra[src], s_dec[src], np.abs(rng.normal(0.0, PLANT_SIGMA_DEG, n_plant))
    )
    n_own = p.partner_rows - n_plant
    n_band = n_own // 2
    n_blob = n_own // 10
    n_bg = n_own - n_band - n_blob
    centres = _blob_centres(rng, N_BLOBS, dec_min=10.0, dec_max=70.0)

    def footprint(draw):
        def f(g, m):
            ra, dec = draw(g, 2 * m)
            keep = dec > PARTNER_DEC_MIN
            return ra[keep], dec[keep]
        return f

    parts = [
        (pra, pdec),
        _fill(rng, n_bg, footprint(uniform_sphere)),
        _fill(rng, n_band, footprint(lambda g, m: _band(g, m, 3.0, _ecliptic_to_eq()))),
        _fill(rng, n_blob, footprint(lambda g, m: _blobs(g, m, centres, 0.3))),
    ]
    ra = np.concatenate([x[0] for x in parts])
    dec = np.concatenate([x[1] for x in parts])
    ids = np.arange(len(ra), dtype=np.int64) + 10_000_000_000
    return _table(rng, ids, ra, dec)


def night_batches(rng, p: Profile, surv: pa.Table) -> list[pa.Table]:
    """One survey field per batch: a cap of ``FIELD_RADIUS_DEG`` around a
    centre drawn from the survey footprint, uniform inside the cap."""
    s_ra = surv.column("ra").to_numpy()
    s_dec = surv.column("dec").to_numpy()
    out = []
    next_id = 20_000_000_000
    for _ in range(p.night_batches):
        i = int(rng.integers(0, len(s_ra)))
        ra0, dec0 = float(s_ra[i]), float(s_dec[i])
        # uniform in a spherical cap: cos(theta) uniform in [cos r, 1]
        cr = np.cos(np.radians(FIELD_RADIUS_DEG))
        theta = np.degrees(np.arccos(rng.uniform(cr, 1.0, p.night_rows)))
        ra, dec = offset_points(rng, np.full(p.night_rows, ra0), np.full(p.night_rows, dec0),
                                theta)
        ids = np.arange(next_id, next_id + p.night_rows, dtype=np.int64)
        next_id += p.night_rows
        t = _table(rng, ids, ra, dec)
        out.append(t.replace_schema_metadata({"field_ra": repr(ra0), "field_dec": repr(dec0)}))
    return out


def _table(rng, ids, ra, dec) -> pa.Table:
    mag = np.round(rng.normal(19.0, 1.5, len(ids)), 3)
    return pa.table({"id": ids, "ra": ra, "dec": dec, "mag": mag})


def write_parquet(t: pa.Table, path: str) -> None:
    pq.write_table(t, path, compression="snappy", row_group_size=1 << 20)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


def generate_sky(seed: int, out_dir: str, p: Profile, with_partner: bool = True) -> dict:
    """Write ``survey.parquet`` (and ``partner.parquet``) under
    ``out_dir``; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 0x5E7)
    surv = survey(rng, p)
    paths = {"survey": os.path.join(out_dir, "survey.parquet")}
    write_parquet(surv, paths["survey"])
    if with_partner:
        paths["partner"] = os.path.join(out_dir, "partner.parquet")
        write_parquet(partner(rng, p, surv), paths["partner"])
    return paths


def generate_night(seed: int, surv: pa.Table, out_dir: str, p: Profile) -> list[str]:
    """Write the night batches ``night_{i}.parquet``, fields centred on
    sources of ``surv``; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, t in enumerate(night_batches(_rng(seed, 0x417), p, surv)):
        paths.append(os.path.join(out_dir, f"night_{i}.parquet"))
        write_parquet(t, paths[-1])
    return paths


def cone_queries(seed: int, surv: pa.Table, n: int):
    """Cone-search mix: 70% of centres at survey source positions
    (density-weighted), 30% uniform on the sphere (empty sky included);
    radii log-uniform in [0.01, 5] degrees."""
    rng = _rng(seed, 0xC0E)
    s_ra = surv.column("ra").to_numpy()
    s_dec = surv.column("dec").to_numpy()
    on_src = rng.uniform(size=n) < 0.7
    idx = rng.integers(0, len(s_ra), n)
    ura, udec = uniform_sphere(rng, n)
    ra = np.where(on_src, s_ra[idx], ura)
    dec = np.where(on_src, s_dec[idx], udec)
    rad = np.exp(rng.uniform(np.log(0.01), np.log(5.0), n))
    return [(float(a), float(d), float(r)) for a, d, r in zip(ra, dec, rad)]


def field_cones(seed: int, batches: list[pa.Table], n: int):
    """Per night batch, ``n`` cones over its field: the whole field, then
    cones centred on new sources with radii log-uniform in [0.05, 0.5]
    degrees."""
    rng = _rng(seed, 0xF4E)
    out = []
    for t in batches:
        meta = t.schema.metadata
        qs = [(float(meta[b"field_ra"]), float(meta[b"field_dec"]), FIELD_RADIUS_DEG)]
        ra, dec = t.column("ra").to_numpy(), t.column("dec").to_numpy()
        for i in rng.integers(0, t.num_rows, n - 1):
            qs.append((float(ra[i]), float(dec[i]),
                       float(np.exp(rng.uniform(np.log(0.05), np.log(0.5))))))
        out.append(qs)
    return out
