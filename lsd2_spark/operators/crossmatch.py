"""Cross-match — k-nearest-neighbor spatial join (the reference's
flagship operator, hipscat/catalog.py:144-253 + dask_utils.py:367-483).

Semantics: for each LEFT row, find up to ``n_neighbors`` nearest RIGHT
rows within ``dthresh`` degrees, correct across partition boundaries.
Ties and the |right| < k case follow the *fixed* semantics (the
reference mis-aligns output when a cell has fewer right rows than k,
dask_utils.py:448-458 — documented in SURVEY §4): matches are ordered
by (distance, right id) and truncated at min(k, candidates).

Spark-first plan (replaces the reference's driver-built file-pair plan,
catalog.py:181-191):

1. **Join cells within reach** (driver, planned once per call): the sky
   overlap of both catalogs, each cell the finer of the two covering
   partitions (util.py:87-183 semantics), clamped so no cell is
   narrower than the match radius — this keeps boundary handling to a
   single neighbor ring — and completed to the left catalog's whole
   sky (``complete_left_cover``).  A cell is then kept only if a right
   leaf overlaps it or, with ``evaluate_margins``, one of its
   same-order neighbors (``cells_within_reach``): a right row within
   the radius of a left row lies in the row's cell or a neighbor of
   it, so a cell that fails holds no pair.  A catalog cross-match reads
   only the leaves those cells need — on the left the leaves that
   overlap a kept cell, on the right those that overlap a kept cell or
   its ring — with a ``(Norder, Npix)`` predicate on the handle's
   pinned read, which Spark applies to the file index it already holds
   (no listing, no job).  A deep field matched against an all-sky
   survey reads the survey's leaves next to the field's leaves, not
   the survey.
2. **Left assignment**: rows join a broadcast (pixel → cell) table
   by the engine's one row-to-cell assignment,
   ``plans.tables.probe_join``, on their pixel at the finest plan
   order.  For a catalog that pixel is one ``shiftright`` of the
   stored spatial index (``_ID = pix19 << 21 | rank``), so the map
   side runs in the JVM and no row is pixelized again; a raw DataFrame
   pays one Arrow pixelization pass.  The table is an Arrow-backed
   local relation (``plans.tables.plan_table``), so no Python worker
   unpickles it; its broadcast runs one small Spark job
   (``LocalTableScan`` rows collected by ``defaultParallelism`` tasks).
   Pixels and cells are keyed by their NUNIQ number
   ``4^(order+1) + pix`` (``plans.tables.uniq``), one long that
   carries the order in its leading bits, so the join and the cogroup
   each have one key column.  ``_ID`` is dropped once rows have their
   cell.  Left rows are never duplicated — each is matched exactly
   once (reference dask_utils.py:407: margins are drawn from the right
   side only).
3. **Right assignment + halo duplication**: the same pixel source and
   the same kind of table, which for the right side also contains
   each cell's neighbor pixels, so right rows
   within ``dthresh`` of a cell boundary are *duplicated* into that
   cell (conservative center-distance prefilter).  This replaces the
   materialized ``neighbor/`` union (dask_utils.py:404-428) with
   query-time halos — no second dataset needs to exist, and the halo
   width always matches the query's ``dthresh``.
4. **Cogrouped kNN kernel**: ``left.groupBy(cell) cogroup right.groupBy
   (cell) → applyInArrow``: each cell's two sides arrive as Arrow
   tables (no pandas conversion); the kernel decodes the cell's order
   and pixel from the key, gnomonic-projects around
   the cell center (util.py:353-371), grid-buckets the right side at the
   match radius, gathers 3×3 candidates per left row, exact great-circle
   distance, keeps k smallest per left row under ``dthresh``, and gathers
   the output columns with Arrow ``take`` so their types and nulls pass
   through unchanged.

A catalog side is read through ``Catalog.df``, which lists the catalog
root once per handle: repeated cross-matches on the same handles plan
without a listing.

Scale notes (100 TB): the broadcast tables are plan-sized (≤ 9 entries
per cell), and so are the leaf predicates.  What a cross-match reads,
shuffles and ships to Python grows with the sky the two catalogs
share (plus one ring of cells), not with either catalog's footprint.
The only shuffle is the cogroup's hash partition on the
cell key; cells are bounded by the catalogs' ``threshold`` plus halo,
and hot cells are split by the coverage maps or ``max_pairs_per_cell``
(AQE cannot split a cogroup).  The kernel is vectorized NumPy over the
Arrow columns; it is the only Python boundary of a catalog
cross-match.
"""

from __future__ import annotations

import warnings
from typing import Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from lsd2_spark import healpix as hpx
from lsd2_spark.catalog import (
    PARTITION_COLS, SPATIAL_INDEX_ORDER, leaf_predicate, pixel_of_index,
)
from lsd2_spark.functions.healpix_cols import ang2pix_udf
from lsd2_spark.functions.spherical import gc_dist, gnomonic_xy_np
from lsd2_spark.plans.partition_map import (
    align_join_cells, cells_within_reach, complete_left_cover, leaves_overlapping,
)
from lsd2_spark.plans.tables import plan_table, probe_join, uniq, uniq_cell

__all__ = ["crossmatch_catalogs", "crossmatch_dataframes", "max_cell_order_for"]

_CELL = "_cell"


def max_cell_order_for(dthresh: float) -> int:
    """Finest cell order whose pixels are wider than the match radius —
    guarantees all matches live in a cell or its immediate neighbors."""
    o = 0
    while o < hpx.MAX_ORDER and hpx.min_pixwidth(o + 1) >= dthresh:
        o += 1
    return o


_CELL_DDL = f"{_CELL} long, _c_ra double, _c_dec double, _c_rad double, _primary int"


def _cell_tables(
    cells: list[tuple[int, int]], dthresh: float, with_halo: bool
) -> tuple[tuple[np.ndarray, np.ndarray], dict[str, np.ndarray]]:
    """The (pixel → cell) assignment plan table: the probed pixels as
    ``(order, pix)`` arrays and the payload columns (see ``_CELL_DDL``;
    cells as :func:`~lsd2_spark.plans.tables.uniq` numbers), built
    with ONE vectorized neighbors/pix2ang call per order, so plan time
    stays vectorized as the cell count grows.

    Primary entry: (pixel == cell pixel) → cell, no distance filter.
    Halo entry (right side only): (neighbor pixel → cell) with the
    cell's center + conservative radius for the distance prefilter.
    """
    cols: dict[str, list[np.ndarray]] = {
        k: [] for k in ("_order", "_pix", _CELL, "_c_ra", "_c_dec", "_c_rad", "_primary")
    }
    arr = np.array(sorted(cells), dtype=np.int64).reshape(-1, 2)
    for o in np.unique(arr[:, 0]).tolist():
        parr = arr[arr[:, 0] == o, 1]
        cra, cdec = hpx.pix2ang(o, parr)
        # row i of the table is cell idx[i]; pix is the probed pixel
        idx, pix, primary = np.arange(len(parr)), parr, np.ones(len(parr), np.int32)
        if with_halo:
            src, nb = hpx.neighbors_flat(o, parr)
            halo_idx = np.searchsorted(parr, src)  # parr is sorted
            pix = np.concatenate([parr, nb])
            idx = np.concatenate([idx, halo_idx])
            primary = np.concatenate([primary, np.zeros(len(halo_idx), np.int32)])
        cols["_order"].append(np.full(len(pix), o))
        cols["_pix"].append(pix)
        cols[_CELL].append(uniq(o, parr[idx]))
        cols["_c_ra"].append(cra[idx])
        cols["_c_dec"].append(cdec[idx])
        cols["_c_rad"].append(np.full(len(idx), hpx.max_pixrad(o) + dthresh))
        cols["_primary"].append(primary)
    out = {k: np.concatenate(v) for k, v in cols.items()}
    return (out.pop("_order"), out.pop("_pix")), out


def _assign(
    df: DataFrame, ra_col: str, dec_col: str, cells: list[tuple[int, int]],
    dthresh: float, with_halo: bool, index_col: str | None = None,
) -> DataFrame:
    """Assign rows to plan ``cells`` (a ``_cell`` column) in ONE pass
    over the input, duplicating rows into neighbor cells' halos when
    ``with_halo``: the probe join
    (:func:`~lsd2_spark.plans.tables.probe_join`) on each row's pixel
    at the finest plan order, then the halo's distance prefilter.

    The pixel comes from ``index_col`` when the caller names one — a
    catalog's spatial index ``_ID``, from which it is a JVM shift
    (:func:`~lsd2_spark.catalog.pixel_of_index`; a plan with index
    columns caps its cells, hot-cell splits included, at the index
    order) — and from one Arrow pixelization pass otherwise (raw
    DataFrames).  The index column is dropped with the plan columns.
    """
    kmax = max(o for o, _ in cells)
    plan_cols = ["_c_ra", "_c_dec", "_c_rad", "_primary"]
    if index_col is not None:
        pix = pixel_of_index(F.col(index_col), kmax)
        plan_cols.append(index_col)
    else:
        # deterministic=False: the pixel feeds the broadcast-join key,
        # and the inferred IsNotNull(pix) constraint would otherwise be
        # pushed below this projection, running the Arrow pixelization
        # twice per row on every assign side (observed in the q21 plan)
        pix = ang2pix_udf(kmax, F.col(ra_col), F.col(dec_col), deterministic=False)
    probes, payload = _cell_tables(cells, dthresh, with_halo)
    j = probe_join(df, pix, kmax, probes, payload, _CELL_DDL).filter(
        (F.col("_primary") == 1)
        | (
            gc_dist(F.col(ra_col), F.col(dec_col), F.col("_c_ra"), F.col("_c_dec"))
            <= F.col("_c_rad")
        )
    )
    return j.drop(*plan_cols)


def _knn_kernel_factory(
    lcols: list[str],
    rcols: list[str],
    l_ra: str,
    l_dec: str,
    r_ra: str,
    r_dec: str,
    r_id: str,
    n_neighbors: int,
    dthresh: float,
    out_schema: StructType,
    l_id: str | None = None,
    exclude_same_id: bool = False,
):
    """The per-cell k-NN kernel for ``cogroup(...).applyInArrow``: two
    ``pyarrow.Table`` sides in, one table with ``out_schema`` out.
    ra/dec/id are read as NumPy; output columns are gathered with
    ``take``, so their types and nulls pass through unchanged."""
    arrow_schema = to_arrow_schema(out_schema)

    def column(table: pa.Table, name: str) -> np.ndarray:
        return table.column(name).to_numpy()

    def kernel(key, left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return arrow_schema.empty_table()
        cell_order, cell_pix = uniq_cell(key[0].as_py())
        cra, cdec = hpx.pix2ang(cell_order, np.array([cell_pix]))
        lra, ldec = column(left, l_ra), column(left, l_dec)
        rra, rdec = column(right, r_ra), column(right, r_dec)
        lx, ly = gnomonic_xy_np(lra, ldec, cra[0], cdec[0])
        rx, ry = gnomonic_xy_np(rra, rdec, cra[0], cdec[0])

        # gnomonic stretches local distances by up to 1/cos²(θ) at angle θ
        # from the tangent point; size the grid pitch so a 3×3 probe is a
        # guaranteed superset of all true-distance matches.
        max_theta = min(np.radians(hpx.max_pixrad(cell_order) + dthresh), np.radians(80.0))
        h = dthresh / (np.cos(max_theta) ** 2)
        gx_r = np.floor(rx / h).astype(np.int64)
        gy_r = np.floor(ry / h).astype(np.int64)
        # composite grid key; sort right side once
        span = np.int64(1) << np.int64(32)
        rkey = gx_r * span + gy_r
        order_r = np.argsort(rkey, kind="stable")
        rkey_s = rkey[order_r]

        gx_l = np.floor(lx / h).astype(np.int64)
        gy_l = np.floor(ly / h).astype(np.int64)

        li_all = []
        ri_all = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                probe = (gx_l + dx) * span + (gy_l + dy)
                i0 = np.searchsorted(rkey_s, probe, side="left")
                i1 = np.searchsorted(rkey_s, probe, side="right")
                cnt = i1 - i0
                nz = np.nonzero(cnt)[0]
                if nz.size == 0:
                    continue
                lengths = cnt[nz]
                li_all.append(np.repeat(nz, lengths))
                # ranges i0..i1 per left row, flattened without Python loops
                cum = np.cumsum(lengths)
                offs = np.arange(cum[-1]) - np.repeat(cum - lengths, lengths)
                ri_all.append(order_r[np.repeat(i0[nz], lengths) + offs])
        if not li_all:
            return arrow_schema.empty_table()
        li = np.concatenate(li_all)
        ri = np.concatenate(ri_all)

        d = hpx.gc_dist_deg(lra[li], ldec[li], rra[ri], rdec[ri])
        keep = d < dthresh
        rids = column(right, r_id)
        if exclude_same_id and l_id is not None:
            keep &= column(left, l_id)[li] != rids[ri]
        li, ri, d = li[keep], ri[keep], d[keep]
        if li.size == 0:
            return arrow_schema.empty_table()

        # deterministic top-k per left row: (left, dist, right_id)
        sel = np.lexsort((rids[ri], d, li))
        li, ri, d = li[sel], ri[sel], d[sel]
        first = np.zeros(len(li), dtype=bool)
        first[0] = True
        first[1:] = li[1:] != li[:-1]
        group_start = np.maximum.accumulate(np.where(first, np.arange(len(li)), 0))
        rank = np.arange(len(li)) - group_start
        keep = rank < n_neighbors
        li, ri, d = li[keep], ri[keep], d[keep]

        cols = [left.column(c).take(li) for c in lcols]
        cols += [right.column(c).take(ri) for c in rcols]
        cols += [
            pa.array(np.full(len(li), cell_order, dtype=np.int32)),
            pa.array(np.full(len(li), cell_pix, dtype=np.int64)),
            pa.array(d),
        ]
        # the sides' Arrow types can differ from the declared ones in
        # encoding only (e.g. large_string, a timestamp's zone)
        cols = [
            c if c.type == f.type else c.cast(f.type)
            for c, f in zip(cols, arrow_schema)
        ]
        return pa.Table.from_arrays(cols, schema=arrow_schema)

    return kernel


def _prefixed_schema(
    ldf: DataFrame, rdf: DataFrame, lcols: list[str], rcols: list[str], lname: str, rname: str
) -> StructType:
    fields = []
    lmap = {f.name: f for f in ldf.schema.fields}
    rmap = {f.name: f for f in rdf.schema.fields}
    for c in lcols:
        fields.append(StructField(f"{lname}_{c}", lmap[c].dataType, True))
    for c in rcols:
        fields.append(StructField(f"{rname}_{c}", rmap[c].dataType, True))
    fields += [
        StructField("hips_k", IntegerType(), False),
        StructField("hips_pix", LongType(), False),
        StructField("_DIST", DoubleType(), False),
    ]
    return StructType(fields)


def _ensure_cols(cols: list[str] | None, df: DataFrame, required: Iterable[str]) -> list[str]:
    out = list(cols) if cols is not None else [c for c in df.columns]
    for c in required:
        if c not in out:
            out.append(c)
    return out


def crossmatch_cells_plan(
    hips1: dict[int, list[int]],
    hips2: dict[int, list[int]],
    max_cell_order: int,
    ring: bool = True,
) -> list[tuple[int, int]]:
    """Join cells for two coverage maps, none finer than
    ``max_cell_order``: the cells of the left sky (``hips1``) that a
    right leaf overlaps, or, with ``ring``, overlaps one of their
    neighbors — the only cells that can hold a pair."""
    aligned = align_join_cells(hips1, hips2, max_cell_order=max_cell_order)
    # every left row must land in a cell, even where the right catalog
    # has no partitions (matches may still arrive via halos) ...
    cover = complete_left_cover(aligned, hips1, max_cell_order)
    # ... but only where a right leaf is near enough to send one
    return cells_within_reach(cover, hips2, ring)


def _plan(
    hips_left: dict[int, list[int]],
    hips_right: dict[int, list[int]],
    n_neighbors: int,
    dthresh: float,
    evaluate_margins: bool,
    indexed: bool,
) -> tuple[int, list[tuple[int, int]]]:
    """Check the match parameters; return the plan order and the join
    cells.  ``indexed``: a side takes its pixels from a spatial index,
    which holds pixels only down to the index order."""
    if n_neighbors < 1:
        raise ValueError(f"n_neighbors must be >= 1, got {n_neighbors}")
    if not 0 < dthresh <= hpx.min_pixwidth(0):
        raise ValueError(
            f"dthresh must be positive and at most the base-pixel width "
            f"{hpx.min_pixwidth(0):.4g} deg, got {dthresh}"
        )
    kj = max_cell_order_for(dthresh)
    if indexed:
        # coarser cells are wider than the radius too, so halos stay valid
        kj = min(kj, SPATIAL_INDEX_ORDER)
    return kj, crossmatch_cells_plan(hips_left, hips_right, kj, evaluate_margins)


def crossmatch_dataframes(
    left: DataFrame,
    right: DataFrame,
    hips_left: dict[int, list[int]],
    hips_right: dict[int, list[int]],
    l_ra: str,
    l_dec: str,
    l_id: str,
    r_ra: str,
    r_dec: str,
    r_id: str,
    n_neighbors: int = 1,
    dthresh: float = 0.01,
    left_name: str = "left",
    right_name: str = "right",
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
    evaluate_margins: bool = True,
    exclude_same_id: bool = False,
    max_pairs_per_cell: float | None = None,
    debug: bool = False,
) -> DataFrame:
    """kNN spatial join of two DataFrames with known sky coverage maps.

    Each map must cover its side's rows (every row lies in a listed
    pixel, as a catalog's ``hips`` does): the plan keeps only cells
    that ``hips_right`` reaches, so a right row outside its map can be
    missed.

    ``exclude_same_id`` drops candidate pairs whose left and right ids
    are equal (self-match mode).  ``debug=True`` truncates the cell
    plan to its first 5 cells for a fast smoke run (reference
    catalog.py:175-177).

    Cell skew: the cogroup emits ONE Arrow kernel task per join cell,
    and AQE cannot split it (FlatMapCoGroupsInArrow is not a join
    exchange, so skew-join rewriting does not apply) — a globular-
    cluster-density cell serializes on one task.  The structural lever
    is the COVERAGE MAP: pass ``hips_left``/``hips_right`` that cover
    dense regions at a finer order (the density-adaptive ingest
    partition map produces exactly such maps), and
    :func:`align_join_cells` plans at the finer of the two sides —
    capped at :func:`max_cell_order_for`, so halos stay valid —
    splitting the hot cell into ``4^Δorder`` kernel tasks with
    identical results (bench ``crossmatch_skew`` pins the speedup and
    the pair-set equality).

    ``max_pairs_per_cell`` opts into AUTOMATIC hot-cell refinement
    when the coverage maps themselves are coarse: the planner measures
    both sides' density at the plan cap order (one histogram pass per
    side — the opt-in's cost) and splits any plan cell whose projected
    kernel work (rows_left x rows_right) exceeds the bound, via
    :func:`~lsd2_spark.plans.partition_map.refine_hot_cells`.  Results
    are pair-set identical (bench ``crossmatch_skew`` ``auto_*``
    fields); splits never exceed ``max_cell_order_for(dthresh)``, so
    halos stay valid by the same argument as above."""
    kj, cells = _plan(
        hips_left, hips_right, n_neighbors, dthresh, evaluate_margins, indexed=False
    )
    return _crossmatch(
        left, right, cells, kj, hips_right, l_ra, l_dec, l_id, r_ra, r_dec, r_id,
        n_neighbors=n_neighbors, dthresh=dthresh, left_name=left_name,
        right_name=right_name, left_cols=left_cols, right_cols=right_cols,
        evaluate_margins=evaluate_margins, exclude_same_id=exclude_same_id,
        max_pairs_per_cell=max_pairs_per_cell, debug=debug,
    )


def _crossmatch(
    left: DataFrame,
    right: DataFrame,
    cells: list[tuple[int, int]],
    kj: int,
    hips_right: dict[int, list[int]],
    l_ra: str,
    l_dec: str,
    l_id: str,
    r_ra: str,
    r_dec: str,
    r_id: str,
    *,
    n_neighbors: int,
    dthresh: float,
    left_name: str,
    right_name: str,
    left_cols: list[str] | None,
    right_cols: list[str] | None,
    evaluate_margins: bool,
    exclude_same_id: bool,
    max_pairs_per_cell: float | None,
    debug: bool,
    l_index: str | None = None,
    r_index: str | None = None,
) -> DataFrame:
    """:func:`crossmatch_dataframes` over the join ``cells`` that
    :func:`_plan` made at plan order ``kj``, where each side may name a
    spatial-index column (``l_index``/``r_index``, a catalog's ``_ID``)
    from which :func:`_assign` shifts the cell pixel instead of
    pixelizing the row.  The index column is not an output column: it
    is left out of ``left_cols``/``right_cols`` and dropped before the
    kernel."""
    left_cols = _ensure_cols(left_cols, left, [l_ra, l_dec, l_id])
    right_cols = _ensure_cols(right_cols, right, [r_ra, r_dec, r_id])
    left = left.select(*left_cols, *([l_index] if l_index else []))
    # the sides may be one relation (a self-match, or a catalog handle's
    # one pinned read): re-aliasing the right side's columns gives them
    # their own attribute ids, so the cogroup's references resolve
    right = right.select(
        *[F.col(c).alias(c) for c in [*right_cols, *([r_index] if r_index else [])]]
    )

    # reference catalog.py:237-241: wide results are usually a mistake
    if len(left_cols) + len(right_cols) + 3 > 50:
        warnings.warn(
            "The cross-match result has more than 50 columns; consider "
            "limiting the returned columns with left_cols=[...] / "
            "right_cols=[...]",
            stacklevel=2,
        )

    if max_pairs_per_cell is not None and cells:
        from lsd2_spark.operators.histogram import sky_histogram
        from lsd2_spark.plans.partition_map import refine_hot_cells

        def _hist(df, ra, dec, index):
            # a side with an index column counts its pixels with a JVM
            # shift of it; a raw DataFrame pays an Arrow pixelization
            if index is not None:
                hist = df.groupBy(pixel_of_index(F.col(index), kj).alias("pix")).agg(
                    F.count(F.lit(1)).alias("cnt")
                )
            else:
                hist = sky_histogram(df, ra, dec, kj)
            rows = hist.collect()
            return (
                np.array([r["pix"] for r in rows], dtype=np.int64),
                np.array([r["cnt"] for r in rows], dtype=np.int64),
            )

        kl, cl = _hist(left, l_ra, l_dec, l_index)
        kr, cr = _hist(right, r_ra, r_dec, r_index)
        hips_cells: dict[int, list[int]] = {}
        for o, p in cells:
            hips_cells.setdefault(o, []).append(p)
        refined = refine_hot_cells(
            hips_cells, kl, cl, kr, cr,
            order_k=kj,
            max_pairs_per_cell=max_pairs_per_cell,
            max_cell_order=kj,
        )
        # a split cell's children face the same test as the cells
        cells = cells_within_reach(
            [(o, p) for o in refined for p in refined[o]], hips_right, evaluate_margins
        )
    if debug and len(cells) > 5:
        warnings.warn("debug=True: truncating the plan to 5 cells", stacklevel=2)
        cells = cells[:5]
    if not cells:
        schema = _prefixed_schema(left, right, left_cols, right_cols, left_name, right_name)
        return plan_table(left.sparkSession, {f.name: [] for f in schema.fields}, schema)

    l_assigned = _assign(left, l_ra, l_dec, cells, dthresh, False, l_index)
    r_assigned = _assign(right, r_ra, r_dec, cells, dthresh, evaluate_margins, r_index)

    schema = _prefixed_schema(left, right, left_cols, right_cols, left_name, right_name)
    kernel = _knn_kernel_factory(
        left_cols, right_cols, l_ra, l_dec, r_ra, r_dec, r_id, n_neighbors, dthresh,
        schema, l_id=l_id, exclude_same_id=exclude_same_id,
    )
    return (
        l_assigned.groupBy(_CELL)
        .cogroup(r_assigned.groupBy(_CELL))
        .applyInArrow(kernel, schema)
    )


def crossmatch_catalogs(
    cat1,
    cat2,
    n_neighbors: int = 1,
    dthresh: float = 0.01,
    columns: list[str] | None = None,
    other_columns: list[str] | None = None,
    evaluate_margins: bool = True,
    exclude_self: bool = False,
    max_pairs_per_cell: float | None = None,
    debug: bool = False,
) -> DataFrame:
    """Catalog-level cross-match (reference catalog.py:144-253).

    ``exclude_self=True`` supports matching a catalog against itself
    (the reference's unimplemented ``_2``-suffix TODO,
    catalog.py:227-228): identical ids are excluded from the
    neighbor lists and the right side gets a ``_2`` name suffix.
    ``max_pairs_per_cell`` opts into automatic hot-cell plan
    refinement (see :func:`crossmatch_dataframes`).
    """
    m1, m2 = cat1.meta, cat2.meta
    kj, cells = _plan(m1.hips, m2.hips, n_neighbors, dthresh, evaluate_margins, indexed=True)

    def reach(cat, columns, ring):
        # the leaves the cells need, pruned from the handle's pinned
        # read; _ID stays until the cell assignment, which shifts each
        # row's cell pixel out of it: neither side is pixelized again
        pred = leaf_predicate(leaves_overlapping(cat.meta.hips, cells, ring))
        df = cat.df(columns)
        return df.filter(F.lit(False) if pred is None else pred).drop(*PARTITION_COLS)

    left = reach(cat1, columns, False)
    right = reach(cat2, other_columns, evaluate_margins)
    rname = m2.cat_name if m2.cat_name != m1.cat_name else f"{m2.cat_name}_2"
    return _crossmatch(
        left,
        right,
        cells,
        kj,
        m2.hips,
        l_ra=m1.ra_kw,
        l_dec=m1.dec_kw,
        l_id=m1.id_kw,
        r_ra=m2.ra_kw,
        r_dec=m2.dec_kw,
        r_id=m2.id_kw,
        left_cols=[c for c in left.columns if c != "_ID"],
        right_cols=[c for c in right.columns if c != "_ID"],
        l_index="_ID",
        r_index="_ID",
        n_neighbors=n_neighbors,
        dthresh=dthresh,
        left_name=m1.cat_name,
        right_name=rname,
        evaluate_margins=evaluate_margins,
        exclude_same_id=exclude_self,
        max_pairs_per_cell=max_pairs_per_cell,
        debug=debug,
    )
