"""Driver-side spatial planning: adaptive partition maps, join-cell
alignment, and cell adjacency.

This is the Spark analogue of the reference's planning layer
(hipscat/partitioner.py:136-230 ``compute_partitioning_map``,
hipscat/util.py:87-183 pixel/pair alignment).  Everything here runs on
the driver over *plan-sized* data (pixel histograms and partition
lists, never rows) and produces small tables that are broadcast to
executors.

Key semantic (reference partitioner.py:136-230): walk orders coarse →
fine; a pixel whose subtree holds ≤ ``threshold`` rows becomes a leaf
partition at that order; denser pixels are subdivided, bottoming out at
``order_k``.  Every occupied fine pixel is covered by exactly one leaf.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from lsd2_spark import healpix as hpx


@dataclass
class PartitionMap:
    """Adaptive leaf-partition assignment computed from a pixel histogram."""

    order_k: int
    threshold: int
    # hips structure {order: sorted list of leaf pixels} — mirrors the
    # reference's catalog metadata (partitioner.py:350-367)
    hips: dict[int, list[int]] = field(default_factory=dict)
    # occupied order_k pixel -> (leaf_order, leaf_pix)
    leaf_of_kpix: dict[int, tuple[int, int]] = field(default_factory=dict)

    @property
    def n_partitions(self) -> int:
        return sum(len(v) for v in self.hips.values())

    def leaf_list(self) -> list[tuple[int, int]]:
        return [(o, p) for o in sorted(self.hips) for p in self.hips[o]]


def compute_partition_map(
    kpix: np.ndarray, counts: np.ndarray, order_k: int, threshold: int
) -> PartitionMap:
    """Top-down adaptive partitioning from a sparse order_k histogram.

    kpix/counts: occupied pixels at ``order_k`` and their row counts
    (the collected result of ``groupBy(pix).count()``).
    """
    kpix = np.asarray(kpix, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    pm = PartitionMap(order_k=order_k, threshold=threshold)

    # roll the sparse histogram up to every order
    per_order: dict[int, dict[int, int]] = {order_k: dict(zip(kpix.tolist(), counts.tolist()))}
    for o in range(order_k - 1, -1, -1):
        finer = per_order[o + 1]
        agg: dict[int, int] = {}
        for p, c in finer.items():
            agg[p >> 2] = agg.get(p >> 2, 0) + c
        per_order[o] = agg

    # coarse → fine sweep: emit a leaf once the subtree fits the threshold
    active: set[int] = set(per_order[0].keys())
    for o in range(0, order_k + 1):
        cnts = per_order[o]
        leaves = sorted(
            p for p in active if cnts.get(p, 0) <= threshold or o == order_k
        )
        if leaves:
            pm.hips[o] = leaves
        if o < order_k:
            active = {
                (p << 2) + i
                for p in active
                if cnts.get(p, 0) > threshold
                for i in range(4)
                if ((p << 2) + i) in per_order[o + 1]
            }

    # occupied k-pixel -> leaf lookup (vectorized per leaf order)
    assigned = np.zeros(len(kpix), dtype=bool)
    for o in sorted(pm.hips.keys()):
        leaves_arr = np.array(pm.hips[o], dtype=np.int64)
        anc = kpix >> (2 * (order_k - o))
        hit = ~assigned & np.isin(anc, leaves_arr)
        for p, a in zip(kpix[hit].tolist(), anc[hit].tolist()):
            pm.leaf_of_kpix[p] = (o, a)
        assigned |= hit
    if not assigned.all():
        raise AssertionError(f"{(~assigned).sum()} pixels not covered by any leaf")
    return pm


# ---------------------------------------------------------------------------
# Join-cell alignment for cross-match
# (reference: hipscat/util.py:87-183 — same-sky pairing via bit shifts)
# ---------------------------------------------------------------------------


def align_join_cells(
    hips1: dict[int, list[int]],
    hips2: dict[int, list[int]],
    max_cell_order: int | None = None,
) -> list[tuple[int, int]]:
    """Join cells covering the sky overlap of two catalogs.

    For each overlapping pair of partitions the cell is the **finer**
    pixel (reference util.py:226-273), optionally clamped to
    ``max_cell_order`` (so cells never get smaller than the match
    radius scale — see crossmatch).  Returns deduped [(order, pix)].
    """

    idx2 = {o: np.array(sorted(ps), dtype=np.int64) for o, ps in hips2.items()}
    cells: set[tuple[int, int]] = set()
    for o1, ps in sorted(hips1.items()):
        arr1 = np.array(sorted(ps), dtype=np.int64)
        for o2, arr2 in sorted(idx2.items()):
            if o2 <= o1:
                # cat2 partition is coarser/equal: ancestor of p1 must match
                anc = arr1 >> (2 * (o1 - o2))
                hit = arr1[np.isin(anc, arr2)]
                cells.update((o1, int(p)) for p in hit)
            else:
                # cat2 partitions finer: descendant leaves inside each p1
                d = 2 * (o2 - o1)
                lo = arr1 << d
                hi = (arr1 + 1) << d
                i0 = np.searchsorted(arr2, lo, side="left")
                i1 = np.searchsorted(arr2, hi, side="left")
                for a, b in zip(i0.tolist(), i1.tolist()):
                    cells.update((o2, int(p)) for p in arr2[a:b])
    if max_cell_order is not None:
        cells = {(min(o, max_cell_order), p >> (2 * max(0, o - max_cell_order))) for o, p in cells}
        # coarsening can create ancestor/descendant overlaps; keep coarsest
        cells = _drop_covered(cells)
    return sorted(cells)


def _drop_covered(cells: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Remove cells that are descendants of another cell in the set."""
    out = set()
    for o, p in cells:
        covered = any((oo, p >> (2 * (o - oo))) in cells for oo in range(0, o))
        if not covered:
            out.add((o, p))
    return out


def complete_left_cover(
    cells: list[tuple[int, int]],
    hips1: dict[int, list[int]],
    max_cell_order: int,
) -> list[tuple[int, int]]:
    """Extend a join-cell set so it covers ALL of the left catalog's sky.

    The aligned intersection drops left regions with no right-side
    coverage — but right rows just across a pixel boundary can still be
    within the match radius (verified failure: a left partition whose
    partner rows all sit in the adjacent pixel).  Uncovered left
    regions become cells of their own; they hold no right *partitions*
    (only halo rows from adjacent cells), so they add no memory risk.
    Output cells remain disjoint.

    This is the candidate cover, not the sky a cross-match reads:
    :func:`cells_within_reach` then drops every cell with no right leaf
    in it or in its neighbour ring, and only the leaves of the cells
    that remain are read.
    """
    cellset = set(cells)
    # cells indexed by every (order, ancestor) for interior tests
    has_inside: set[tuple[int, int]] = set()
    for o, p in cells:
        for oo in range(0, o):
            has_inside.add((oo, p >> (2 * (o - oo))))

    def covered(o: int, p: int) -> bool:
        return any((oo, p >> (2 * (o - oo))) in cellset for oo in range(0, o + 1))

    out = list(cells)
    for o1, ps in sorted(hips1.items()):
        for p1 in ps:
            o = min(o1, max_cell_order)
            stack = [(o, p1 >> (2 * max(0, o1 - o)))]
            while stack:
                oo, pp = stack.pop()
                if covered(oo, pp):
                    continue
                if (oo, pp) in has_inside and oo < max_cell_order:
                    stack.extend(
                        ((oo + 1, (pp << 2) + i) for i in range(4))
                    )
                else:
                    cellset.add((oo, pp))
                    out.append((oo, pp))
    return sorted(set(out))


def _overlaps(order: int, pix: np.ndarray, hips: dict[int, list[int]]) -> np.ndarray:
    """Which of the order-``order`` pixels ``pix`` overlap a leaf of
    ``hips``: the leaf is the pixel, an ancestor of it, or inside it."""
    hit = np.zeros(len(pix), dtype=bool)
    for o, leaves in hips.items():
        arr = np.sort(np.asarray(leaves, dtype=np.int64))
        if o <= order:
            hit |= np.isin(pix >> (2 * (order - o)), arr)
        else:
            d = 2 * (o - order)
            hit |= np.searchsorted(arr, pix << d) < np.searchsorted(arr, (pix + 1) << d)
    return hit


def cells_within_reach(
    cells: list[tuple[int, int]], hips: dict[int, list[int]], ring: bool
) -> list[tuple[int, int]]:
    """The cells a leaf of ``hips`` (the right catalog) overlaps, or,
    with ``ring``, overlaps one of the cell's same-order neighbours.

    Exact for a cross-match whose cells are no narrower than its radius
    (``max_cell_order_for``): a right row within the radius of a left
    row lies in the left row's cell or in one of its neighbours, and a
    right leaf overlaps that pixel.  A cell that fails the test can
    produce no pair, so neither its left rows nor its halo are read."""
    arr = np.array(sorted(cells), dtype=np.int64).reshape(-1, 2)
    keep = np.zeros(len(arr), dtype=bool)
    for o in np.unique(arr[:, 0]).tolist():
        rows = np.flatnonzero(arr[:, 0] == o)
        parr = arr[rows, 1]
        hit = _overlaps(o, parr, hips)
        if ring:
            src, nb = hpx.neighbors_flat(o, parr)
            hit |= np.isin(parr, src[_overlaps(o, nb, hips)])
        keep[rows] = hit
    return [(int(o), int(p)) for o, p in arr[keep]]


def leaves_overlapping(
    hips: dict[int, list[int]], cells: list[tuple[int, int]], ring: bool
) -> dict[int, list[int]]:
    """The leaves of ``hips`` that overlap one of ``cells``, or, with
    ``ring``, one of the cells' same-order neighbours: the leaves that
    hold every row a cross-match over ``cells`` can assign."""
    arr = np.array(sorted(cells), dtype=np.int64).reshape(-1, 2)
    pixels: dict[int, np.ndarray] = {}
    for o in np.unique(arr[:, 0]).tolist():
        parr = arr[arr[:, 0] == o, 1]
        if ring:
            parr = np.union1d(parr, hpx.neighbors_flat(o, parr)[1])
        pixels[o] = parr
    out: dict[int, list[int]] = {}
    for o, leaves in sorted(hips.items()):
        leaf = np.asarray(leaves, dtype=np.int64)
        keep = _overlaps(o, leaf, pixels)
        if keep.any():
            out[o] = leaf[keep].tolist()
    return out


def refine_hot_cells(
    hips: dict[int, list[int]],
    kpix1: np.ndarray,
    counts1: np.ndarray,
    kpix2: np.ndarray,
    counts2: np.ndarray,
    order_k: int,
    max_pairs_per_cell: float,
    max_cell_order: int,
) -> dict[int, list[int]]:
    """Split coverage-map cells whose PROJECTED cross-match pair count
    exceeds ``max_pairs_per_cell`` — the automatic form of the skew
    lever the bench ``crossmatch_skew`` probe measured by hand (a
    hand-refined map under a 50x-density hot cell was a 3.3x wall win
    with identical pair sets, BENCH_r12_local.json).

    The cogroup cross-match kernel is one pandas task per cell and NOT
    AQE-splittable, so a dense cell (globular-cluster shape) serializes
    one huge task; the structural fix is planning that region at a
    finer order, which this does from the same plan-sized density
    histograms the adaptive ingest map is built from.

    ``kpix1/counts1`` and ``kpix2/counts2`` are sparse ``order_k``
    histograms of the two sides (``sky_histogram`` collected — pixel
    counts, never rows).  A cell's projected kernel work is
    ``rows1_in_cell * rows2_in_cell`` (the kNN kernel's worst case);
    any cell over the bound is replaced by its four children — ALL
    four, occupied or not, so sky coverage is exactly preserved (empty
    children cost one empty kernel task at most; dropping them would
    re-open the boundary-coverage hole ``complete_left_cover`` exists
    to close).  Splitting recurses until the bound holds or the cell
    reaches ``min(max_cell_order, order_k)`` — never finer than the
    match-radius scale (``max_cell_order_for(dthresh)``) and never
    below histogram resolution (a sub-histogram split would be blind).

    Driver-side over plan-sized tables, like everything in this
    module; the output is a coverage map in the same ``{order:
    [pix]}`` shape the cross-match planner consumes.
    """
    cap = min(max_cell_order, order_k)

    def rollups(kpix, counts):
        kpix = np.asarray(kpix, dtype=np.int64)
        counts = np.asarray(counts, dtype=np.int64)
        per: dict[int, dict[int, int]] = {order_k: dict(zip(kpix.tolist(), counts.tolist()))}
        for o in range(order_k - 1, -1, -1):
            agg: dict[int, int] = {}
            for p, c in per[o + 1].items():
                agg[p >> 2] = agg.get(p >> 2, 0) + c
            per[o] = agg
        return per

    per1, per2 = rollups(kpix1, counts1), rollups(kpix2, counts2)

    def subtree(per: dict[int, dict[int, int]], o: int, p: int) -> int:
        if o <= order_k:
            return per[o].get(p, 0)
        # finer than the histogram: the caller capped splits at
        # order_k, but the INPUT map may already carry finer cells —
        # attribute the ancestor's count (conservative upper bound)
        return per[order_k].get(p >> (2 * (o - order_k)), 0)

    out: list[tuple[int, int]] = []
    stack = [(o, p) for o in sorted(hips) for p in hips[o]]
    while stack:
        o, p = stack.pop()
        pairs = subtree(per1, o, p) * subtree(per2, o, p)
        if pairs > max_pairs_per_cell and o < cap:
            stack.extend((o + 1, (p << 2) + i) for i in range(4))
        else:
            out.append((o, p))
    refined: dict[int, list[int]] = {}
    for o, p in sorted(out):
        refined.setdefault(o, []).append(p)
    return refined


def assignment_cells(
    hips: dict[int, list[int]], order_k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cells that partition the whole sphere, each with the order of
    the leaf a row inside it belongs to: ``(order, pix, target_order)``
    arrays.

    The cells are the leaves of ``hips`` (target: the leaf's own order)
    plus their complement as a nested MOC: the largest cells holding no
    leaf, found by descending from the 12 base pixels only into cells
    that are strict ancestors of a leaf.  A row in a complement cell
    opens a new leaf at ``order_k`` when the cell is at ``order_k`` or
    coarser (no leaf lies inside that row's order-``order_k`` pixel);
    a complement cell finer than ``order_k`` lies in an order-``order_k``
    pixel that holds finer leaves, and its rows open their leaf at the
    finest order of those leaves, so the new leaf is disjoint from every
    existing one.  The target pixel of a row is its pixel at the target
    order, which lies inside the cell because the target order is never
    coarser than the cell."""
    leaves = {o: np.asarray(ps, dtype=np.int64) for o, ps in hips.items()}
    empty = np.empty(0, dtype=np.int64)
    top = max([order_k, *leaves])
    # the finest order of the leaves inside each order-k pixel that holds
    # leaves finer than order_k
    finest: dict[int, int] = {}
    for o, ps in sorted(leaves.items()):
        if o > order_k:
            finest.update(dict.fromkeys((ps >> (2 * (o - order_k))).tolist(), o))
    cells = []
    frontier = np.arange(12, dtype=np.int64)
    for o in range(top + 1):
        leaf = np.isin(frontier, leaves.get(o, empty))
        inner = ~leaf & np.isin(frontier, np.concatenate(
            [empty, *(p >> (2 * (o2 - o)) for o2, p in leaves.items() if o2 > o)]
        ))
        comp = frontier[~leaf & ~inner]
        target = ([order_k] * len(comp) if o <= order_k
                  else [finest[a] for a in (comp >> (2 * (o - order_k))).tolist()])
        cells += [(o, frontier[leaf], o), (o, comp, target)]
        frontier = ((frontier[inner] << 2)[:, None] + np.arange(4)).ravel()
    return (
        np.concatenate([np.full(len(p), o) for o, p, _ in cells]).astype(np.int32),
        np.concatenate([p for _, p, _ in cells]),
        np.concatenate([np.broadcast_to(t, len(p)) for _, p, t in cells]).astype(np.int32),
    )

