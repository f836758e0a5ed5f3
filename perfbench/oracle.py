"""Oracles for the benchmark, written in NumPy and DuckDB only.

None of them imports the engine: they recompute each answer by brute
force from the generated inputs.  A result row set is compared as an id
set; ids that differ between engine and oracle are forgiven only when
they sit within ``EDGE_DEG`` of the distance cut, where the engine's and
NumPy's last-bit rounding may legitimately disagree.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np

from gen import gc_dist_deg, radec_to_vec

EDGE_DEG = 1e-9


class Positions:
    """id/ra/dec arrays of a point set, with a cheap dec-sorted index
    so a cone only measures distances inside its declination band."""

    def __init__(self, ids, ra, dec):
        order = np.argsort(dec, kind="stable")
        self.ids = np.asarray(ids, dtype=np.int64)[order]
        self.ra = np.asarray(ra, dtype=np.float64)[order]
        self.dec = np.asarray(dec, dtype=np.float64)[order]

    @staticmethod
    def of(table) -> "Positions":
        return Positions(table.column("id").to_numpy(), table.column("ra").to_numpy(),
                         table.column("dec").to_numpy())

    def plus(self, other: "Positions") -> "Positions":
        return Positions(np.concatenate([self.ids, other.ids]),
                         np.concatenate([self.ra, other.ra]),
                         np.concatenate([self.dec, other.dec]))

    def cone(self, ra, dec, radius) -> tuple[set, set]:
        """(ids strictly inside the cone, ids within EDGE_DEG of its rim)."""
        lo = np.searchsorted(self.dec, dec - radius - 1e-6, side="left")
        hi = np.searchsorted(self.dec, dec + radius + 1e-6, side="right")
        d = gc_dist_deg(self.ra[lo:hi], self.dec[lo:hi], ra, dec)
        ids = self.ids[lo:hi]
        return set(ids[d < radius].tolist()), set(ids[np.abs(d - radius) < EDGE_DEG].tolist())


def same_set(got, want: set, edge: set) -> bool:
    """Engine result ``got`` (iterable of keys, possibly with duplicates)
    equals ``want`` up to keys on the distance rim."""
    got = list(got)
    gs = set(got)
    if len(gs) != len(got):
        return False  # a duplicated row is wrong, not a rim case
    return (gs ^ want) <= edge


# -- ingest -------------------------------------------------------------------


def check_catalog(cat_dir: str, cat_name: str, input_paths: list[str], threshold: int,
                  appended: str | None = None) -> list[str]:
    """Every input id lands in exactly one leaf of the metadata's leaf
    set, no leaf exceeds ``threshold`` rows, and the metadata's
    ``n_sources`` equals the input row count.  Leaves holding rows of the
    ``appended`` input are exempt from the threshold: an append does not
    re-split leaves.  Returns failure messages."""
    errors = []
    with open(os.path.join(cat_dir, f"{cat_name}_meta.json")) as f:
        meta = json.load(f)
    leaves = {(int(o), int(p)) for o, ps in meta["hips"].items() for p in ps}
    con = duckdb.connect()
    try:
        src = ", ".join(f"'{p}'" for p in input_paths)
        want = con.execute(
            "SELECT count(*), count(DISTINCT id), sum(id::HUGEINT), "
            f"sum(id::HUGEINT * id::HUGEINT) FROM read_parquet([{src}])"
        ).fetchone()
        glob = os.path.join(cat_dir, "catalog", "**", "*.parquet")
        got = con.execute(
            "SELECT count(*), count(DISTINCT id), sum(id::HUGEINT), "
            f"sum(id::HUGEINT * id::HUGEINT) FROM read_parquet('{glob}', hive_partitioning=1)"
        ).fetchone()
        exempt = set()
        if appended is not None:
            exempt = set(con.execute(
                f"SELECT DISTINCT Norder, Npix FROM read_parquet('{glob}', hive_partitioning=1) "
                f"WHERE id IN (SELECT id FROM read_parquet('{appended}'))"
            ).fetchall())
    finally:
        con.close()
    if tuple(got) != tuple(want) or want[0] != want[1]:
        errors.append(f"id multiset differs: catalog {got} vs input {want}")
    if meta["n_sources"] != want[0]:
        errors.append(f"n_sources {meta['n_sources']} != input rows {want[0]}")
    cells = leaf_counts(cat_dir)
    if not cells.keys() <= leaves:
        errors.append(f"{len(cells.keys() - leaves)} cell(s) on disk outside the metadata leaf set")
    over = [(o, p, n) for (o, p), n in cells.items() if n > threshold and (o, p) not in exempt]
    if over:
        errors.append(f"{len(over)} leaf(s) above threshold {threshold}, e.g. {over[0]}")
    return errors


# -- cross-match --------------------------------------------------------------


def knn_pairs(left: Positions, right: Positions, k: int, dthresh: float):
    """Brute-force k nearest right neighbours within ``dthresh`` degrees of
    every left point, ties broken by right id.  Candidates come from a
    3-D grid of unit vectors with cell side equal to the chord of
    ``dthresh``, so the 27 neighbouring cells hold every true match.
    Returns ({(left_id, right_id)}, {pairs within EDGE_DEG of the cut})."""
    chord = 2.0 * np.sin(np.radians(dthresh) / 2.0)
    lv = radec_to_vec(left.ra, left.dec)
    rv = radec_to_vec(right.ra, right.dec)
    off = np.int64(1 << 15)

    def keys(g):
        return ((g[:, 0] + off) << np.int64(32)) | ((g[:, 1] + off) << np.int64(16)) | (g[:, 2] + off)

    lg = np.floor(lv / chord).astype(np.int64)
    rkey = keys(np.floor(rv / chord).astype(np.int64))
    rorder = np.argsort(rkey, kind="stable")
    rkey_s = rkey[rorder]
    li_all, ri_all = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            for dz in (-1, 0, 1):
                probe = keys(lg + np.array([dx, dy, dz], dtype=np.int64))
                i0 = np.searchsorted(rkey_s, probe, side="left")
                cnt = np.searchsorted(rkey_s, probe, side="right") - i0
                nz = np.nonzero(cnt)[0]
                if nz.size == 0:
                    continue
                lens = cnt[nz]
                cum = np.cumsum(lens)
                offs = np.arange(cum[-1]) - np.repeat(cum - lens, lens)
                li_all.append(np.repeat(nz, lens))
                ri_all.append(rorder[np.repeat(i0[nz], lens) + offs])
    if not li_all:
        return set(), set()
    li = np.concatenate(li_all)
    ri = np.concatenate(ri_all)
    d = gc_dist_deg(left.ra[li], left.dec[li], right.ra[ri], right.dec[ri])
    edge = np.abs(d - dthresh) < EDGE_DEG
    edge_pairs = set(zip(left.ids[li[edge]].tolist(), right.ids[ri[edge]].tolist()))
    keep = d < dthresh
    li, ri, d = li[keep], ri[keep], d[keep]
    sel = np.lexsort((right.ids[ri], d, li))
    li, ri = li[sel], ri[sel]
    first = np.ones(len(li), dtype=bool)
    first[1:] = li[1:] != li[:-1]
    start = np.maximum.accumulate(np.where(first, np.arange(len(li)), 0))
    top = (np.arange(len(li)) - start) < k
    pairs = set(zip(left.ids[li[top]].tolist(), right.ids[ri[top]].tolist()))
    return pairs, edge_pairs


def leaf_counts(cat_dir: str, dataset: str = "catalog") -> dict[tuple[int, int], int]:
    """Rows per (Norder, Npix) cell of a catalog's hive dataset."""
    glob = os.path.join(cat_dir, dataset, "**", "*.parquet")
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT Norder, Npix, count(*) FROM "
            f"read_parquet('{glob}', hive_partitioning=1) GROUP BY Norder, Npix"
        ).fetchall()
    finally:
        con.close()
    return {(int(o), int(p)): int(n) for o, p, n in rows}
