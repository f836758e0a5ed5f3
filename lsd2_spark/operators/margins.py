"""Margin ("neighbor") dataset — boundary halos for each partition.

For every partition P the halo holds rows from *other* partitions that
lie within ``margin_threshold`` of P's boundary, so per-cell spatial
joins are correct at partition edges (reference: hipscat/
dask_utils.py:246-318, hipscat/margin_utils.py).

Spark-first construction (no per-file task farm):

1. **Driver plan**: for each partition P at order ``o`` pick a ring
   order ``kf = min(max(o+1, KA), 19)`` where KA is the coarsest order
   whose pixels are at least ``margin`` wide, and 19 the spatial-index
   order (a coarser ring holds the finer ring's pixels, so the halo
   stays a superset).  The candidate set is the ring of order-``kf``
   pixels just outside P (border children's neighbors minus P's own
   children).  For partitions coarser than KA the ring covers the full
   margin width; for partitions near/below the margin scale the ring
   is one child-pixel wide — the same resolution limit the reference
   warns about (partitioner.py:259-261), surfaced here as a warning
   too.
2. **One probe join**: each row takes its pixel once, at the finest
   ring order — a shift of the stored ``_ID`` for a catalog's rows,
   one Arrow pass for raw input — and probes ONE broadcast table that
   holds the ring entries of every ring order, keyed by NUNIQ number
   (``plans.tables.probe_join``) → (row, owner partition P) pairs.
   Rows inside P match no entry: ring pixels exclude P's children.
3. **Boundary clip**: a pair survives only within ``margin + eps`` of
   P's boundary samples near the ring pixel, which ride the same
   broadcast table (a Column expression; no second join).
4. One ``partitionBy`` write under ``{path}/neighbor/`` mirroring the
   catalog layout.

The halo is a conservative **superset** of the exact 0.1°-boundary set
(distance to boundary samples, with the samples' slack, rather than
the polygon clip of margin_utils.py:209-305); supersets preserve join
correctness and the
exact ``dthresh`` filter in the kNN kernel keeps results exact.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsd2_spark import healpix as hpx
from lsd2_spark.catalog import SPATIAL_INDEX_ORDER, pixel_of_index
from lsd2_spark.functions.healpix_cols import ang2pix_udf
from lsd2_spark.functions.spherical import gc_dist
from lsd2_spark.plans.tables import probe_join

__all__ = ["margin_candidate_entries", "write_margin_dataset", "margin_ring_order"]


def margin_ring_order(margin_deg: float) -> int:
    """Coarsest order whose min pixel width still exceeds the margin."""
    ka = 0
    while ka < hpx.MAX_ORDER and hpx.min_pixwidth(ka + 1) >= margin_deg:
        ka += 1
    return ka


def _border_children(pix: np.ndarray, depth: int) -> np.ndarray:
    """Order-(o+depth) children on the border of each pixel of ``pix``:
    one row per pixel."""
    n = 1 << depth
    ix = np.arange(n)
    edge = np.unique(
        np.concatenate(
            [
                np.stack([ix, np.zeros_like(ix)], 1),
                np.stack([ix, np.full_like(ix, n - 1)], 1),
                np.stack([np.zeros_like(ix), ix], 1),
                np.stack([np.full_like(ix, n - 1), ix], 1),
            ]
        ),
        axis=0,
    )
    local = (hpx._spread_bits(edge[:, 0]) | (hpx._spread_bits(edge[:, 1]) << np.uint64(1))).astype(
        np.int64
    )
    return (np.asarray(pix, dtype=np.int64)[:, None] << np.int64(2 * depth)) + local


def _samples_within(
    cra: np.ndarray,
    cdec: np.ndarray,
    owner: np.ndarray,
    reach: np.ndarray,
    bra: np.ndarray,
    bdec: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """The boundary samples within ``reach[e]`` degrees of ring centre
    ``e``, among the samples of its owner ``owner[e]`` (row
    ``owner[e]`` of ``bra``/``bdec``): ``(entry, sample)`` index pairs,
    ``sample`` indexing the flattened sample arrays, grouped by entry in
    ascending order (within an entry, in declination order).

    No entry-by-sample distance matrix: each owner's samples are sorted
    by declination, and a sample more than ``reach`` away in declination
    is more than ``reach`` away on the sphere, so two binary searches
    bound each entry's candidates to one declination band (widened by
    ``_BAND_SLACK`` against rounding).  The band's pairs are decided by
    the dot product of their unit vectors against ``cos(reach)``, and
    the few within ``_COS_SLACK`` of it by the haversine, so the result
    is the haversine test's on every pair."""
    n_own, n_s = bdec.shape
    order = np.argsort(bdec, axis=1, kind="stable")
    # one ascending key over all owners: owner ``i``'s declinations
    # (shifted into [0, 180]) sit in [i * 360, i * 360 + 180]
    key = (np.arange(n_own)[:, None] * 360.0 + np.take_along_axis(bdec, order, 1) + 90.0).ravel()
    centre = owner * 360.0 + cdec + 90.0
    lo = np.searchsorted(key, centre - reach - _BAND_SLACK, "left")
    hi = np.searchsorted(key, centre + reach + _BAND_SLACK, "right")
    entry = np.repeat(np.arange(len(cra)), hi - lo)
    pos = np.arange(len(entry)) - np.repeat(np.cumsum(hi - lo) - (hi - lo), hi - lo) + lo[entry]
    # a band wider than 180 deg would reach into the next owner's keys
    inside = pos // n_s == owner[entry]
    entry, sample = entry[inside], owner[entry[inside]] * n_s + order.ravel()[pos[inside]]
    # three products per pair instead of the haversine's trigonometry
    bv = hpx._radec_to_vec(bra.ravel(), bdec.ravel())
    cv = hpx._radec_to_vec(cra, cdec)
    dot = np.einsum("ij,ij->i", cv[entry], bv[sample])
    cos_reach = np.cos(np.radians(reach))[entry]
    sure = dot > cos_reach + _COS_SLACK
    open_ = ~sure & (dot > cos_reach - _COS_SLACK)
    e, s = entry[open_], sample[open_]
    sure[open_] = hpx.gc_dist_deg(cra[e], cdec[e], bra.ravel()[s], bdec.ravel()[s]) <= reach[e]
    return entry[sure], sample[sure]


# declination slack of _samples_within's band, in degrees: far above the
# rounding of its keys (owner index * 360 + dec: under 1e-7 deg below a
# million owners per order) and far below a sample spacing
_BAND_SLACK = 1e-6
# cosine slack of its dot-product test: far above the rounding of a dot
# product of unit vectors, so a pair it decides, the haversine decides the
# same way
_COS_SLACK = 1e-9


_RING_DDL = "Norder int, Npix long, _b_ra array<double>, _b_dec array<double>, _b_eps double"


def margin_candidate_entries(
    hips: dict[int, list[int]], margin_deg: float
) -> dict[int, dict[str, object]]:
    """Candidate ring table with local boundary geometry, as columns
    per ring order: ``{ring_order: {"ring_pix", "Norder", "Npix",
    "_b_ra", "_b_dec", "_b_eps"}}`` (the ring pixel, then the plan-table
    payload of ``_RING_DDL``), where ``_b_ra``/``_b_dec`` are Arrow list
    arrays.

    ``b_ra``/``b_dec`` are the owner-boundary samples within reach of
    the ring pixel (dense at ~margin/2 arc spacing, but only the local
    segment — a bounded handful per entry even for order-0 owners), and
    ``eps`` is half the owner's largest consecutive sample gap: a point
    within ``margin`` of the true boundary polygon is within
    ``margin + eps`` of some sample (triangle inequality), so row-time
    filtering at that threshold is a guaranteed superset of the exact
    margin set while dropping ring-interior rows the whole-pixel halo
    used to keep.  Ring orders without candidates are left out.
    """
    ka = margin_ring_order(margin_deg)
    parts: dict[int, dict[str, list[np.ndarray]]] = {}
    under_covered = False
    for o, pixels in sorted(hips.items()):
        # capped at the index order, so stored rows shift their ring
        # pixel out of _ID; a coarser ring holds the finer one's pixels
        kf = min(max(o + 1, ka), SPATIAL_INDEX_ORDER)
        if hpx.min_pixwidth(kf) < margin_deg:
            under_covered = True
        # batch all border children of every partition at this order
        # into one vectorized neighbors() call
        child, ring_pix = hpx.neighbors_flat(kf, _border_children(pixels, kf - o).ravel())
        ring_owner = child >> (2 * (kf - o))
        keep = (ring_pix >> (2 * (kf - o))) != ring_owner
        # (owner, ring pixel) pairs, sorted by owner then pixel
        pairs = np.unique(np.stack([ring_owner[keep], ring_pix[keep]], 1), axis=0)
        if len(pairs) == 0:
            continue
        ring_owner, ring_pix = pairs[:, 0], pairs[:, 1]

        # dense owner boundary (samples every ~margin/2 of arc; gap and
        # eps are MEASURED, so tightness — never correctness — depends
        # on this choice)
        n_pe = int(np.clip(np.ceil(4.0 * hpx.max_pixrad(o) / margin_deg), 4, 4096))
        uowners = np.unique(ring_owner)
        bra, bdec = hpx.boundary_samples(o, uowners, n_per_edge=n_pe)
        gaps = hpx.gc_dist_deg(bra, bdec, np.roll(bra, -1, 1), np.roll(bdec, -1, 1))
        gap_max = gaps.max(axis=1)
        cra, cdec = hpx.pix2ang(kf, ring_pix)
        owner = np.searchsorted(uowners, ring_owner)
        reach = margin_deg + hpx.max_pixrad(kf) + gap_max[owner]
        entry, sample = _samples_within(cra, cdec, owner, reach, bra, bdec)

        acc = parts.setdefault(
            kf,
            {k: [] for k in ("ring_pix", "Norder", "Npix", "_n", "_b_ra", "_b_dec", "_b_eps")},
        )
        acc["ring_pix"].append(ring_pix)
        acc["Norder"].append(np.full(len(ring_pix), o))
        acc["Npix"].append(ring_owner)
        acc["_n"].append(np.bincount(entry, minlength=len(ring_pix)))
        acc["_b_ra"].append(bra.ravel()[sample])
        acc["_b_dec"].append(bdec.ravel()[sample])
        acc["_b_eps"].append(gap_max[owner] / 2.0)
    if under_covered:
        warnings.warn(
            "margin_threshold exceeds the pixel size of the deepest "
            "partitions; halos there cover one child-pixel ring "
            "(the reference has the same resolution limit, "
            "partitioner.py:259-261)"
        )
    out: dict[int, dict[str, object]] = {}
    for kf, acc in parts.items():
        cols = {k: np.concatenate(v) for k, v in acc.items()}
        offsets = pa.array(np.concatenate([[0], np.cumsum(cols.pop("_n"))]), pa.int32())
        for k in ("_b_ra", "_b_dec"):
            cols[k] = pa.ListArray.from_arrays(offsets, pa.array(cols[k], pa.float64()))
        out[kf] = cols
    return out


def margin_rows(df: DataFrame, cat, ra_col: str, dec_col: str) -> DataFrame | None:
    """(row ∪ owner-partition) pairs for every halo membership.

    Rows are assigned to the ring entries of every ring order by ONE
    probe join (:func:`~lsd2_spark.plans.tables.probe_join`) on their
    pixel at the finest ring order: a shift of ``_ID`` when ``df``
    carries the catalog's spatial index (the index column is dropped),
    one Arrow pixelization pass otherwise.  The ring-pixel candidates
    are then clipped by boundary distance: a row survives only if it is
    within ``margin + eps`` of the owner's locally-sampled boundary
    (see ``margin_candidate_entries``) — a guaranteed superset of the
    exact margin set, but without the ring-pixel interior bulk
    (measured ~78% halo-row reduction on a coarse-partition fixture,
    where ring pixels are much wider than the margin).  The distance
    test is a pure Column expression (``zip_with`` + ``array_min``)
    over the per-entry local samples riding the same broadcast table —
    no extra join, no shuffle."""
    clash = {"Norder", "Npix"} & set(df.columns)
    if clash:
        # the owner-partition columns this emits would be shadowed by
        # (or ambiguous with) same-named input columns — e.g. a catalog
        # frame's native partition columns — producing silently wrong
        # halo assignments; make the caller drop them first
        raise ValueError(
            f"margin_rows input must not carry {sorted(clash)} — drop the "
            "catalog partition columns and pass the bare source frame"
        )
    entries = margin_candidate_entries(cat.meta.hips, cat.meta.margin_threshold)
    if not entries:
        return None
    kmax = max(entries)
    if "_ID" in df.columns:
        pix = pixel_of_index(F.col("_ID"), kmax)
    else:
        # deterministic=False: the pixel feeds the join key (see
        # crossmatch._assign)
        pix = ang2pix_udf(kmax, F.col(ra_col), F.col(dec_col), deterministic=False)

    def column(k: str):  # one column over every ring order
        parts = [t[k] for t in entries.values()]
        return pa.concat_arrays(parts) if k in ("_b_ra", "_b_dec") else np.concatenate(parts)

    order = np.concatenate([np.full(len(t["ring_pix"]), kf) for kf, t in entries.items()])
    payload = {k: column(k) for k in ("Norder", "Npix", "_b_ra", "_b_dec", "_b_eps")}
    joined = probe_join(df, pix, kmax, (order, column("ring_pix")), payload, _RING_DDL)
    # containment drop is implicit: ring pixels exclude P's children,
    # so any row whose ring pixel matched is outside P by construction.
    dists = F.zip_with(
        F.col("_b_ra"),
        F.col("_b_dec"),
        lambda a, d: gc_dist(F.col(ra_col), F.col(dec_col), a, d),
    )
    margin = float(cat.meta.margin_threshold)
    return joined.filter(
        # empty local segment (shouldn't happen — rings touch the
        # boundary) conservatively keeps the row
        F.coalesce(F.array_min(dists) <= F.lit(margin) + F.col("_b_eps"), F.lit(True))
    ).drop("_b_ra", "_b_dec", "_b_eps", "_ID")


def write_margin_dataset(df: DataFrame, cat, ra_col: str, dec_col: str) -> None:
    """Materialize {path}/neighbor/ with the catalog's hive layout
    (reference sink S8, dask_utils.py:246-318).  Only the export is
    written here; ``Catalog.export_margins`` and ingest publish the
    metadata flag that vouches for it."""
    rows = margin_rows(df, cat, ra_col=ra_col, dec_col=dec_col)
    if rows is None:
        return
    out = rows.withColumn("Dir", (F.col("Npix") / 10_000).cast("long") * 10_000)
    (
        out.repartition("Norder", "Npix")
        .write.mode("overwrite")
        .partitionBy("Norder", "Dir", "Npix")
        .parquet(f"{cat.path}/neighbor")
    )
