"""Cross-match reads only the sky it can match: join cells are kept only
when a right leaf lies in the cell or its neighbor ring, each side reads
only the leaves those cells need, and the pair set stays the brute-force
one.  Also: the cogroup's job count, and the Python workers' zip-cache
guard (``lsd2_spark.pyworker``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

import lsd2_spark.healpix as hpx
from lsd2_spark import pyworker
from lsd2_spark.catalog import partition_catalog
from lsd2_spark.operators.crossmatch import crossmatch_cells_plan, max_cell_order_for
from lsd2_spark.plans.partition_map import cells_within_reach, leaves_overlapping

RNG = np.random.default_rng(23)
FIELD_ORDER, FIELD_PIX = 3, 82  # the order-3 pixel centred on (151.875, 30)
FIELD_RA, FIELD_DEC = 151.875, 30.0


def _cat(spark, root, name, pdf, threshold):
    return partition_catalog(
        spark.createDataFrame(pdf), str(root / name), name,
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=threshold, order_k=7, write_margins=False,
    )


def _brute_pairs(left, right, k, dthresh):
    d = hpx.gc_dist_deg(left["ra"].to_numpy()[:, None], left["dec"].to_numpy()[:, None],
                        right["ra"].to_numpy()[None, :], right["dec"].to_numpy()[None, :])
    rid = right["sid"].to_numpy()
    out = set()
    for i, lid in enumerate(left["sid"].to_numpy()):
        near = np.flatnonzero(d[i] < dthresh)
        for j in near[np.lexsort((rid[near], d[i, near]))][:k]:
            out.add((int(lid), int(rid[j])))
    return out


def _pairs(df, lname, rname):
    """The (left, right) id pairs of a cross-match, collected from ``df``
    itself, so its executed plan carries the scans' metrics."""
    return {(int(r[f"{lname}_sid"]), int(r[f"{rname}_sid"])) for r in df.collect()}


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _files_read(df) -> dict[str, int]:
    """Catalog root → the "number of files read" metric of its scan in
    ``df``'s executed (final adaptive) plan."""
    out = {}

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name == "FileSourceScanExec":
            root = node.relation().location().rootPaths().head().toString()
            out[root] = out.get(root, 0) + node.metrics().get("numFiles").get().value()
            return
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.fixture(scope="module")
def field(spark, tmp_path_factory):
    """A 40 x 40 deg survey patch and a partner field of radius 1.5 deg
    that lies inside one order-3 pixel, so every partner leaf does."""
    root = tmp_path_factory.mktemp("reach")
    def disc(first, m):
        r = 1.5 * np.sqrt(RNG.uniform(0, 1, m))
        phi = RNG.uniform(0, 2 * np.pi, m)
        return pd.DataFrame({"sid": np.arange(first, first + m, dtype=np.int64),
                             "ra": FIELD_RA + r * np.cos(phi) / np.cos(np.radians(FIELD_DEC)),
                             "dec": FIELD_DEC + r * np.sin(phi)})

    n = 8000
    wide = pd.concat([
        pd.DataFrame({"sid": np.arange(n, dtype=np.int64),
                      "ra": RNG.uniform(130, 175, n), "dec": RNG.uniform(10, 50, n)}),
        disc(n, 300),
    ], ignore_index=True)
    near = wide[hpx.gc_dist_deg(wide["ra"], wide["dec"], FIELD_RA, FIELD_DEC) < 1.5]
    planted = near.assign(sid=near["sid"] + 100_000, dec=near["dec"] + 0.01)
    partner = pd.concat([planted, disc(200_000, 100)], ignore_index=True)
    assert (hpx.ang2pix(FIELD_ORDER, partner["ra"], partner["dec"]) == FIELD_PIX).all()
    c1 = _cat(spark, root, "wide", wide, threshold=100)
    c2 = _cat(spark, root, "field", partner, threshold=30)
    c1.df(), c2.df()  # pin both handles' reads, as a long-lived service does
    return wide, partner, c1, c2


@pytest.mark.parametrize("max_pairs", [None, 200.0])
def test_small_partner_reads_only_the_leaves_near_it(field, max_pairs):
    """Against a wide survey, a few-degree partner's cross-match returns
    the brute-force pairs (hot-cell splits included) and the survey scan
    opens only leaves near the field, a small share of the survey."""
    wide, partner, c1, c2 = field
    k, dthresh = 2, 0.05
    out = c1.cross_match(c2, n_neighbors=k, dthresh=dthresh, max_pairs_per_cell=max_pairs)
    got = _pairs(out, "wide", "field")
    want = _brute_pairs(wide, partner, k, dthresh)
    assert got == want
    assert len(want) > 300

    read = _files_read(out)
    left_read = read[f"file:{c1.path}/catalog"]
    files = c1.meta.files
    hit: list[tuple[int, int]] = []
    # every kept cell lies in the field's order-3 pixel or next to it
    radius = hpx.max_pixrad(FIELD_ORDER) + 2 * hpx.max_pixrad(FIELD_ORDER + 1)
    c1.cone_pruning_predicate(FIELD_RA, FIELD_DEC, radius, _hit=hit)
    assert left_read <= sum(len(files[lf]) for lf in hit), (left_read, len(hit))
    assert left_read >= 1
    assert left_read * 4 < sum(len(v) for v in files.values()), left_read
    # the right side reads its field leaves, and nothing of another catalog
    assert read[f"file:{c2.path}/catalog"] <= sum(len(v) for v in c2.meta.files.values())
    assert set(read) == {f"file:{c1.path}/catalog", f"file:{c2.path}/catalog"}


def test_catalog_cross_match_runs_five_spark_jobs(field, spark):
    """On handles whose reads are pinned, a collected catalog cross-match
    runs 5 jobs: one per broadcast plan table (each broadcast of a local
    relation collects it with a job), one per cogroup side's shuffle map
    stage, and the result stage."""
    _, _, c1, c2 = field
    rows, n_jobs = _jobs(
        spark, "xm-jobs",
        lambda: c1.cross_match(c2, n_neighbors=2, dthresh=0.05).collect(),
    )
    assert rows and n_jobs == 5, n_jobs


def _edge_sides(n=400):
    """Rows within 0.04 deg of a point on the edge between base pixels 4
    and 0: the left side keeps those in pixel 4, the right side those in
    pixel 0, so every pair crosses the pixel boundary."""
    ra = 22.5 + RNG.uniform(-0.04, 0.04, n)
    dec = 19.47122063 + RNG.uniform(-0.04, 0.04, n)
    base = hpx.ang2pix(0, ra, dec)
    left = pd.DataFrame({"sid": np.arange(n, dtype=np.int64), "ra": ra, "dec": dec})[base == 4]
    right = pd.DataFrame({"sid": np.arange(n, dtype=np.int64) + 10_000,
                          "ra": ra, "dec": dec})[base == 0]
    return left, right


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("edge")
    left, right = _edge_sides()
    far = pd.DataFrame({"sid": np.arange(50, dtype=np.int64) + 20_000,
                        "ra": 200 + RNG.uniform(0, 1, 50), "dec": -40 + RNG.uniform(0, 1, 50)})
    cl = _cat(spark, root, "edgel", left, threshold=10_000)
    cr = _cat(spark, root, "edger", right, threshold=10_000)
    cf = _cat(spark, root, "far", far, threshold=10_000)
    assert cl.meta.hips == {0: [4]} and cr.meta.hips == {0: [0]} and cf.meta.hips == {0: [10]}
    return left, right, cl, cr, cf


def test_matches_across_the_leaf_boundary_arrive_through_the_ring(edge):
    """A left leaf whose only partners sit across the pixel boundary, in
    the neighbouring right leaf, still matches (the case
    complete_left_cover exists for); without margins its one cell has no
    right leaf inside it, so nothing is planned and nothing matches."""
    left, right, cl, cr, _ = edge
    kj = max_cell_order_for(0.05)
    assert crossmatch_cells_plan(cl.meta.hips, cr.meta.hips, kj) == [(0, 4)]
    assert crossmatch_cells_plan(cl.meta.hips, cr.meta.hips, kj, ring=False) == []
    got = _pairs(cl.cross_match(cr, n_neighbors=1, dthresh=0.05), "edgel", "edger")
    want = _brute_pairs(left, right, 1, 0.05)
    assert got == want
    assert len(want) > 20
    assert cl.cross_match(cr, n_neighbors=1, dthresh=0.05, evaluate_margins=False).count() == 0


def test_footprints_more_than_a_cell_apart_plan_nothing(edge, spark):
    """Two footprints farther apart than one cell: no cell, no Spark job,
    an empty result with the cross-match schema."""
    _, _, cl, _, cf = edge
    assert crossmatch_cells_plan(cl.meta.hips, cf.meta.hips, max_cell_order_for(0.5)) == []
    out = cl.cross_match(cf, n_neighbors=1, dthresh=0.5)
    rows, n_jobs = _jobs(spark, "xm-far", out.collect)
    assert rows == [] and n_jobs == 0
    assert "hips_pix" in out.columns and "far_sid" in out.columns


def test_reach_and_leaf_overlap_match_their_definitions():
    """``cells_within_reach`` and ``leaves_overlapping`` against a direct
    pairwise test over random mixed-order maps."""
    rng = np.random.default_rng(4)

    def overlaps(o1, p1, o2, p2):
        return (p2 >> 2 * (o2 - o1)) == p1 if o1 <= o2 else (p1 >> 2 * (o1 - o2)) == p2

    hips = {o: sorted(set(rng.integers(0, 12 * 4**o, 25).tolist())) for o in (2, 3, 4)}
    leaves = [(o, p) for o, ps in hips.items() for p in ps]
    cells = sorted({(o, int(p)) for o in (3, 4) for p in rng.integers(0, 12 * 4**o, 25)})
    ring_of = {c: hpx.neighbors(c[0], [c[1]])[0].tolist() for c in cells}
    for ring in (False, True):
        reach = {c: [c[1], *(ring_of[c] if ring else [])] for c in cells}
        want_cells = [c for c in cells
                      if any(overlaps(c[0], q, o, p) for q in reach[c] for o, p in leaves)]
        assert cells_within_reach(cells, hips, ring) == want_cells
        want_leaves: dict[int, list[int]] = {}
        for o, p in leaves:
            if any(overlaps(c[0], q, o, p) for c in cells for q in reach[c]):
                want_leaves.setdefault(o, []).append(p)
        assert leaves_overlapping(hips, cells, ring) == want_leaves
    assert cells_within_reach([], hips, True) == []


# -- Python workers: the zip-cache guard -----------------------------------


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zips lazily")
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """An unchanged archive is not re-read by invalidate_caches; a
    rewritten one is, and its new module imports."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zguard_first.py", "VALUE = 1\n")
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zguard_first

        assert zguard_first.VALUE == 1
        unguarded = zipimport.zipimporter.invalidate_caches
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            pyworker.cached_invalidate_caches(unguarded))
        count = lambda: reads.count(str(archive))  # noqa: E731
        before = count()
        importlib.invalidate_caches()  # the first guarded call reads, and stamps
        assert count() == before + 1
        for _ in range(3):
            importlib.invalidate_caches()
        assert count() == before + 1
        unguarded(sys.path_importer_cache[str(archive)])  # what every task paid
        assert count() == before + 2

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zguard_first.py", "VALUE = 1\n")
            z.writestr("zguard_second.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert count() == before + 3
        import zguard_second

        assert zguard_second.VALUE == 2
    finally:
        for name in ("zguard_first", "zguard_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zips lazily")
def test_python_worker_tasks_use_the_engine_zip_guard(spark):
    """An Arrow UDF run as several tasks, some in one reused worker:
    every task sees the engine's invalidate_caches, which re-reads no
    unchanged archive."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import lsd2_spark  # noqa: F401  (as unpickling an engine UDF does)

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()  # stamps every archive
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "guard": [zipimport.zipimporter.invalidate_caches.__module__],
            "rereads": [len(reads) - first],
            "importers": [len(importers)],
        })

    rows = (
        spark.range(0, 12, 1, numPartitions=12)
        .mapInArrow(probe, "pid long, guard string, rereads long, importers long")
        .collect()
    )
    assert len(rows) == 12
    assert {r["guard"] for r in rows} == {"lsd2_spark.pyworker"}
    assert {r["rereads"] for r in rows} == {0}
    assert max(r["importers"] for r in rows) > 0
    pids = [r["pid"] for r in rows]
    assert max(pids.count(p) for p in set(pids)) >= 2, pids
