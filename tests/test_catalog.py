"""End-to-end catalog engine tests: adaptive ingest, pruned cone
search vs brute force, margins, and kNN cross-match vs an O(n²)
oracle (FIXTURES.md F1/F2/F5-style synthetic catalogs)."""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

import lsd2_spark.healpix as hpx
from pyspark.sql.types import StructType

from lsd2_spark.catalog import Catalog, partition_catalog

RNG = np.random.default_rng(7)


def _make_catalog_pdf(n=20_000, hotspot=True) -> pd.DataFrame:
    """Clustered synthetic catalog: uniform sky + a dense hotspot so the
    adaptive map produces multiple orders."""
    ra = RNG.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(RNG.uniform(-1, 1, n)))
    if hotspot:
        m = n // 2
        ra[:m] = 56.0 + RNG.normal(0, 1.5, m)
        dec[:m] = 20.0 + RNG.normal(0, 1.5, m)
    return pd.DataFrame(
        {
            "source_id": np.arange(n, dtype=np.int64),
            "ra": ra % 360.0,
            "dec": np.clip(dec, -90, 90),
            "mag": RNG.uniform(10, 22, n),
        }
    )


def _make_partner_pdf(base: pd.DataFrame, n_planted=400) -> pd.DataFrame:
    """Overlapping partner with planted near matches (FIXTURES.md F2)."""
    n = len(base) // 2
    ra = RNG.uniform(30, 90, n)
    dec = np.degrees(np.arcsin(RNG.uniform(-0.2, 0.8, n)))
    pdf = pd.DataFrame(
        {
            "source_id": np.arange(n, dtype=np.int64) + 10_000_000,
            "ra": ra,
            "dec": dec,
            "flux": RNG.uniform(0, 1, n),
        }
    )
    # plant near-duplicates of base rows at < 0.01 deg offsets
    planted = base.iloc[:n_planted]
    off = RNG.uniform(-0.005, 0.005, (n_planted, 2))
    pdf.loc[: n_planted - 1, "ra"] = (planted["ra"].to_numpy() + off[:, 0]) % 360
    pdf.loc[: n_planted - 1, "dec"] = np.clip(planted["dec"].to_numpy() + off[:, 1], -90, 90)
    return pdf


@pytest.fixture(scope="module")
def cats(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("catalogs")
    base = _make_catalog_pdf()
    partner = _make_partner_pdf(base)
    c1 = partition_catalog(
        spark.createDataFrame(base),
        str(root / "cat1"),
        "cat1",
        ra_col="ra",
        dec_col="dec",
        id_col="source_id",
        threshold=2000,
        order_k=7,
    )
    c2 = partition_catalog(
        spark.createDataFrame(partner),
        str(root / "cat2"),
        "cat2",
        ra_col="ra",
        dec_col="dec",
        id_col="source_id",
        threshold=500,
        order_k=7,
    )
    return base, partner, c1, c2


def test_adaptive_partitioning_properties(cats, spark):
    base, _, c1, _ = cats
    df = c1.df().toPandas()
    assert len(df) == len(base)
    # multiple orders used (hotspot forces subdivision)
    assert len(c1.meta.hips) >= 2
    # every cell within threshold unless at the max order
    sizes = df.groupby(["Norder", "Npix"]).size()
    for (o, p), n in sizes.items():
        if o < c1.meta.order_k:
            assert n <= c1.meta.pix_threshold, (o, p, n)
    # rows actually belong to their cell
    for (o, p), grp in df.groupby(["Norder", "Npix"]):
        pix = hpx.ang2pix(int(o), grp["ra"].to_numpy(), grp["dec"].to_numpy())
        assert (pix == p).all()
    # _ID is sorted within each cell file and globally consistent
    for (o, p), grp in df.groupby(["Norder", "Npix"]):
        assert (np.diff(grp["_ID"].to_numpy()) >= 0).any() or len(grp) == 1


def test_reload_roundtrip(cats, spark):
    _, _, c1, _ = cats
    re = Catalog.load(spark, c1.path)
    assert re.meta.hips == c1.meta.hips
    assert re.df().count() == c1.df().count()


BRUTEFORCE_CONES = [
    (56.0, 20.0, 10.0),   # hotspot (tutorial query, notebook cell 16)
    (0.05, 0.0, 0.5),     # RA wrap
    (0.0, 89.5, 1.0),     # pole
    (180.0, -45.0, 0.01), # tiny radius
    (300.0, -70.0, 3.0),  # sparse region
]


@pytest.mark.parametrize("cra,cdec,radius", BRUTEFORCE_CONES)
def test_cone_search_matches_bruteforce(cats, cra, cdec, radius):
    base, _, c1, _ = cats
    got = c1.cone_search(cra, cdec, radius).toPandas()
    d = hpx.gc_dist_deg(base["ra"].to_numpy(), base["dec"].to_numpy(), cra, cdec)
    want = set(base.loc[d < radius, "source_id"].tolist())
    assert set(got["source_id"].tolist()) == want
    if len(got):
        dd = hpx.gc_dist_deg(got["ra"].to_numpy(), got["dec"].to_numpy(), cra, cdec)
        assert np.allclose(np.sort(dd), np.sort(got["_DIST"].to_numpy()))


def test_cone_search_prunes_partitions(cats):
    _, _, c1, _ = cats
    df = c1.cone_search(56.0, 20.0, 2.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # static partition pruning must reach the scan node
    assert "PartitionFilters" in plan
    scan_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "Npix" in scan_line and "Norder" in scan_line
    # and the scan reads a strict subset of the catalog's cells
    import re as _re

    m = _re.search(r"partitions read: (\d+)", plan) or _re.search(
        r"PartitionCount: (\d+)", plan
    )
    if m:
        n_read = int(m.group(1))
        n_cells = sum(len(v) for v in c1.meta.hips.values())
        assert n_read < n_cells, (n_read, n_cells)


def test_cone_search_empty_region(cats):
    _, _, _, c2 = cats
    # cat2 covers ra 30-90 only; a far-away cone must return empty fast
    out = c2.cone_search(200.0, -50.0, 1.0)
    assert out.count() == 0


@pytest.mark.parametrize("cra,cdec,radius", BRUTEFORCE_CONES)
def test_cone_search_equals_root_scan_then_filter(cats, cra, cdec, radius):
    """Reading only the hit leaf directories returns exactly what a scan
    of the whole catalog root followed by the distance filter returns."""
    from lsd2_spark.functions.spherical import gc_dist
    from pyspark.sql import functions as F

    _, _, c1, _ = cats
    got = c1.cone_search(cra, cdec, radius).toPandas()
    want = (
        c1.df()
        .withColumn("_DIST", gc_dist(F.col("ra"), F.col("dec"), cra, cdec))
        .filter(F.col("_DIST") < radius)
        .toPandas()
    )
    assert list(got.columns) == list(want.columns)
    key = ["source_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


def _leaf_centre_cone(order, pix, radius=0.01):
    ra, dec = hpx.pix2ang(order, np.array([pix]))
    return float(ra[0]), float(dec[0]), radius


def test_cone_schema_is_the_stored_schema_whatever_leaves_it_hits(cats):
    """The read schema is the metadata's, so it does not depend on which
    leaves a cone touches; the partition columns are pinned to the
    writer's types (Norder int, Dir and Npix long)."""
    _, _, c1, _ = cats
    lo, hi = min(c1.meta.hips), max(c1.meta.hips)
    assert lo < hi
    cones = [
        _leaf_centre_cone(lo, c1.meta.hips[lo][0]),
        _leaf_centre_cone(hi, c1.meta.hips[hi][-1]),
        (56.0, 20.0, 10.0),
    ]
    hits = []
    for q in cones:
        hit = []
        c1.cone_pruning_predicate(*q, _hit=hit)
        hits.append(set(hit))
    assert hits[0] and hits[1] and not hits[0] & hits[1]
    assert {o for o, _ in hits[0]} != {o for o, _ in hits[1]}

    full = c1.df().schema
    types = {f.name: f.dataType.simpleString() for f in full.fields}
    assert (types["Norder"], types["Dir"], types["Npix"]) == ("int", "bigint", "bigint")
    assert full == c1.meta.schema
    schemas = [c1.cone_search(*q).schema for q in cones]
    no_leaves = Catalog(c1.spark, c1.path, replace(c1.meta, hips={}))
    schemas.append(no_leaves.cone_search(56.0, 20.0, 2.0).schema)  # empty cover
    for sch in schemas:
        assert sch == schemas[0]
        assert StructType([f for f in sch.fields if f.name != "_DIST"]) == full


def _jobs_in_group(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cone_runs_one_spark_job_and_an_empty_cover_none(cats, spark):
    """No listing job and no schema-inference job: one job collects an
    ordinary cone, and a cone that hits no leaf collects without any."""
    _, _, c1, c2 = cats
    rows, n_jobs = _jobs_in_group(
        spark, "cone-one-job", lambda: c1.cone_search(56.0, 20.0, 2.0).collect()
    )
    assert rows and n_jobs == 1, n_jobs
    hit = []
    assert c2.cone_pruning_predicate(200.0, -50.0, 1.0, _hit=hit) is None and not hit
    rows, n_jobs = _jobs_in_group(
        spark, "cone-empty-cover", lambda: c2.cone_search(200.0, -50.0, 1.0).collect()
    )
    assert rows == [] and n_jobs == 0, n_jobs


def _copy_catalog(spark, cat, dst):
    import shutil

    shutil.copytree(cat.path, dst)
    return Catalog.load(spark, str(dst), cat.meta.cat_name)


def test_cone_never_reads_cells_the_metadata_does_not_list(cats, spark, tmp_path):
    """A cell directory on disk that the metadata does not name (here a
    finer-order copy of a hit leaf's rows) is invisible to cone_search,
    though a root scan sees it."""
    import glob
    import os
    import shutil

    base, _, c1, _ = cats
    cat = _copy_catalog(spark, c1, tmp_path / "stray")
    q = (56.0, 20.0, 2.0)
    hit = []
    cat.cone_pruning_predicate(*q, _hit=hit)
    o, p = hit[0]
    child = p << 2
    stray = f"{cat.path}/catalog/Norder={o + 1}/Dir={child // 10000 * 10000}/Npix={child}"
    os.makedirs(stray)
    for f in glob.glob(f"{cat._leaf_dir(o, p)}/*.parquet"):
        shutil.copy(f, stray)
    assert cat.df().count() > len(base)  # the stray rows are on disk

    got = cat.cone_search(*q).select("source_id").toPandas()["source_id"]
    d = hpx.gc_dist_deg(base["ra"].to_numpy(), base["dec"].to_numpy(), q[0], q[1])
    assert got.is_unique
    assert set(got) == set(base.loc[d < q[2], "source_id"])


def test_cone_over_missing_leaf_dir_names_it_and_points_to_fsck(cats, spark, tmp_path):
    """A metadata leaf whose directory is gone is an error, not fewer
    rows."""
    import shutil

    _, _, c1, _ = cats
    cat = _copy_catalog(spark, c1, tmp_path / "missing")
    q = (56.0, 20.0, 2.0)
    hit = []
    cat.cone_pruning_predicate(*q, _hit=hit)
    o, p = hit[-1]
    shutil.rmtree(cat._leaf_dir(o, p))
    with pytest.raises(FileNotFoundError, match=rf"\({o}, {p}\).*fsck"):
        cat.cone_search(*q).collect()
    assert (o, p) in [tuple(c) for c in cat.fsck()["cells_meta_only"]]


def test_metadata_without_schema_is_inferred_once_and_persisted_by_fsck(
    cats, spark, tmp_path
):
    """Catalogs written before the metadata stored the schema still load:
    the schema is inferred once at load, and fsck(repair=True) stores it."""
    import json

    _, _, c1, _ = cats
    cat = _copy_catalog(spark, c1, tmp_path / "legacy")
    meta_path = f"{cat.path}/{cat.meta.cat_name}_meta.json"
    d = json.loads(open(meta_path).read())
    del d["schema"]
    open(meta_path, "w").write(json.dumps(d))

    legacy = Catalog.load(spark, cat.path)
    assert legacy.meta.schema == c1.meta.schema
    q = (56.0, 20.0, 2.0)
    assert legacy.cone_search(*q).count() == c1.cone_search(*q).count()
    rep = legacy.fsck(repair=True)
    assert rep["schema_inferred"] and rep["consistent"] and rep["repaired"]
    assert json.loads(open(meta_path).read())["schema"] is not None
    again = Catalog.load(spark, cat.path)
    assert again.meta.schema == c1.meta.schema
    assert not again.fsck()["schema_inferred"]


def test_mutations_keep_the_stored_schema(spark, tmp_path):
    """append and delete commit metadata that still carries the schema."""
    pdf = _make_catalog_pdf(1500)
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "cat"), "keep",
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=400, order_k=4, write_margins=False,
    )
    schema = cat.meta.schema
    batch = _make_catalog_pdf(100)
    batch["source_id"] += 1_000_000
    cat2 = cat.append(spark.createDataFrame(batch))
    cat3 = cat2.delete("source_id < 100")
    for c in (cat2, cat3, Catalog.load(spark, cat.path)):
        assert c.meta.schema == schema
    assert cat3.df().count() == 1500
    assert cat3.fsck()["consistent"]


def test_append_through_stale_handle_keeps_rows_of_new_leaves(spark, tmp_path):
    """append reads only touched leaves; a leaf that a newer handle's
    append opened is not in a stale handle's metadata, but its rows are
    on disk and must survive the stale handle's rewrite of that cell."""
    rng = np.random.default_rng(5)

    def rows(lo, n, ra0, dec0):
        return spark.createDataFrame(pd.DataFrame({
            "sid": np.arange(lo, lo + n, dtype=np.int64),
            "ra": ra0 + rng.uniform(-1, 1, n),
            "dec": dec0 + rng.uniform(-1, 1, n),
        }))

    cat = partition_catalog(
        rows(0, 500, 40.0, 10.0), str(tmp_path / "stale"), "stale",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=1000, order_k=3, write_margins=False,
    )
    cat2 = cat.append(rows(1000, 50, 200.0, -40.0))  # opens a new leaf
    assert cat2.meta.hips != cat.meta.hips
    cat.append(rows(2000, 50, 200.0, -40.0))  # same leaf, stale metadata
    ids = {r["sid"] for r in cat.df().select("sid").collect()}
    assert ids == set(range(500)) | set(range(1000, 1050)) | set(range(2000, 2050))


def _brute_knn(lpdf, rpdf, k, dthresh):
    """O(n²) oracle: per left row, k nearest right rows under dthresh,
    ties broken by right id."""
    out = []
    lra, ldec = lpdf["ra"].to_numpy(), lpdf["dec"].to_numpy()
    rra, rdec = rpdf["ra"].to_numpy(), rpdf["dec"].to_numpy()
    rid = rpdf["source_id"].to_numpy()
    for i in range(len(lpdf)):
        d = hpx.gc_dist_deg(lra[i], ldec[i], rra, rdec)
        mask = d < dthresh
        if not mask.any():
            continue
        cand = np.lexsort((rid[mask], d[mask]))[:k]
        ids = rid[mask][cand]
        ds = d[mask][cand]
        for j, dist in zip(ids, ds):
            out.append((int(lpdf["source_id"].iloc[i]), int(j), float(dist)))
    return set((a, b) for a, b, _ in out), {(a, b): c for a, b, c in out}


@pytest.mark.parametrize("k,dthresh", [(1, 0.01), (4, 0.1), (3, 0.02)])
def test_crossmatch_matches_bruteforce(cats, k, dthresh):
    base, partner, c1, c2 = cats
    got = c1.cross_match(c2, n_neighbors=k, dthresh=dthresh).toPandas()
    pairs_want, dist_want = _brute_knn(base, partner, k, dthresh)
    pairs_got = set(
        zip(got["cat1_source_id"].astype(int), got["cat2_source_id"].astype(int))
    )
    assert pairs_got == pairs_want
    for (a, b), dist in zip(pairs_got, got["_DIST"]):
        pass  # distances spot-checked below
    # exact distances match the oracle
    for _, row in got.iterrows():
        key = (int(row["cat1_source_id"]), int(row["cat2_source_id"]))
        assert abs(dist_want[key] - row["_DIST"]) < 1e-9


def test_crossmatch_margins_off_undermatches(cats):
    base, partner, c1, c2 = cats
    full = c1.cross_match(c2, n_neighbors=1, dthresh=0.05).count()
    nomargin = c1.cross_match(c2, n_neighbors=1, dthresh=0.05, evaluate_margins=False).count()
    assert nomargin <= full


def test_margin_dataset_exists_and_is_superset_of_boundary(cats):
    base, _, c1, _ = cats
    mdf = c1.margin_df()
    assert mdf is not None
    m = mdf.toPandas()
    # margin rows are never inside their owner partition
    for (o, p), grp in m.groupby(["Norder", "Npix"]):
        pix = hpx.ang2pix(int(o), grp["ra"].to_numpy(), grp["dec"].to_numpy())
        assert (pix != p).all()
    # every row within margin of a foreign partition boundary is present
    margin = c1.meta.margin_threshold
    leaves = c1.leaf_list() if hasattr(c1, "leaf_list") else [
        (o, p) for o, ps in c1.meta.hips.items() for p in ps
    ]
    got_pairs = set(zip(m["Norder"].astype(int), m["Npix"].astype(int), m["source_id"].astype(int)))
    for o, p in leaves:
        bra, bdec = hpx.boundary_samples(o, [p], n_per_edge=16)
        d = hpx.gc_dist_deg(
            base["ra"].to_numpy()[:, None], base["dec"].to_numpy()[:, None],
            bra.ravel()[None, :], bdec.ravel()[None, :],
        ).min(axis=1)
        inside = hpx.ang2pix(o, base["ra"].to_numpy(), base["dec"].to_numpy()) == p
        want = base.loc[(d < margin * 0.9) & ~inside, "source_id"]
        for sid in want:
            assert (o, p, int(sid)) in got_pairs, (o, p, sid)


def test_margin_refinement_shrinks_halo_but_keeps_superset(cats):
    """Boundary-distance refinement must materially shrink the halo
    (ring pixels are wider than the margin) while the superset test
    above still passes with refinement on (the default)."""
    from lsd2_spark.operators.margins import margin_rows

    base, _, c1, _ = cats
    src = c1.df().drop("Norder", "Dir", "Npix", "_ID")
    full = margin_rows(src, c1, c1.meta.ra_kw, c1.meta.dec_kw, refine=False).count()
    refined = margin_rows(src, c1, c1.meta.ra_kw, c1.meta.dec_kw, refine=True).count()
    assert refined < full, (refined, full)


def test_sql_view_surface(cats):
    """Catalog.create_view exposes the catalog to spark.sql with
    partition pruning intact."""
    _, _, c1, _ = cats
    view = c1.create_view()
    got = c1.spark.sql(
        f"SELECT COUNT(*) AS n FROM {view} WHERE Norder = "
        f"(SELECT MIN(Norder) FROM {view})"
    ).collect()[0]["n"]
    assert got > 0
    # pruning: a Npix-filtered plan reads fewer files than the full scan
    o = min(c1.meta.hips)
    p = c1.meta.hips[o][0]
    plan = c1.spark.sql(
        f"SELECT * FROM {view} WHERE Norder = {o} AND Npix = {p}"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_append_equals_single_shot_ingest(spark, tmp_path):
    """Appending the second half of a dataset reproduces the single-shot
    ingest exactly — same rows, same _ID ranks — because touched cells
    are fully re-ranked; untouched cells are never rewritten.  Rows
    outside the original coverage open new leaves."""
    rng = np.random.default_rng(21)
    n = 6000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": rng.uniform(0, 180, n),          # half the sky initially
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
    })
    extra = pd.DataFrame({
        "sid": np.arange(n, n + 500, dtype=np.int64),
        "ra": rng.uniform(180, 360, 500),      # NEW coverage
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 500))),
    })
    both = pd.concat([pdf, extra], ignore_index=True)

    single = partition_catalog(
        spark.createDataFrame(both), str(tmp_path / "single"), "s",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=1000, order_k=6, write_margins=False,
    )
    first = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "inc"), "i",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=1000, order_k=6, write_margins=False,
    )
    inc = first.append(spark.createDataFrame(extra))

    assert inc.meta.n_sources == single.meta.n_sources == n + 500
    a = single.df().select("sid", "ra", "dec", "_ID").toPandas().sort_values("sid", ignore_index=True)
    b = inc.df().select("sid", "ra", "dec", "_ID").toPandas().sort_values("sid", ignore_index=True)
    assert a["sid"].equals(b["sid"])
    assert (a["_ID"].to_numpy() == b["_ID"].to_numpy()).all()
    # the reloaded metadata matches what append wrote
    reloaded = Catalog.load(spark, str(tmp_path / "inc"), "i")
    assert reloaded.meta.n_sources == n + 500


def test_append_extends_margin_dataset(spark, tmp_path):
    """Appending to a catalog with margins adds the new rows' halo
    memberships to neighbor/ (owner-exclusion invariant preserved)."""
    rng = np.random.default_rng(22)
    n = 4000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": rng.uniform(0, 360, n),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
    })
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "m"), "m",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=800, order_k=6, write_margins=True,
    )
    before = cat.margin_df().count()
    extra = pd.DataFrame({
        "sid": np.arange(n, n + 1000, dtype=np.int64),
        "ra": rng.uniform(0, 360, 1000),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 1000))),
    })
    cat2 = cat.append(spark.createDataFrame(extra))
    m = cat2.margin_df().toPandas()
    assert len(m) > before
    for (o, p), grp in m.groupby(["Norder", "Npix"]):
        pix = hpx.ang2pix(int(o), grp["ra"].to_numpy(), grp["dec"].to_numpy())
        assert (pix != p).all()


def test_append_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch replay semantics: re-applying the same batch_id is a
    no-op (high-water mark in metadata), and even a torn-commit replay
    (data written, metadata not — simulated by replaying with a HIGHER
    batch_id) converges to bit-identical catalog contents because the
    merge replaces rows by id instead of duplicating them."""
    rng = np.random.default_rng(31)
    n = 3000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": rng.uniform(0, 360, n),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
    })
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "xo"), "xo",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=800, order_k=6, write_margins=True,
    )
    batch = pd.DataFrame({
        "sid": np.arange(n, n + 400, dtype=np.int64),
        "ra": rng.uniform(0, 360, 400),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 400))),
    })
    bdf = spark.createDataFrame(batch)

    c1 = cat.append(bdf, batch_id=0)
    snap = c1.df().toPandas().sort_values("sid", ignore_index=True)
    halo_snap = c1.margin_df().toPandas().sort_values(
        ["sid", "Norder", "Npix"], ignore_index=True)
    assert c1.meta.last_batch_id == 0

    # (a) replay with the SAME batch_id — guarded no-op
    c2 = c1.append(bdf, batch_id=0)
    assert c2.meta.n_sources == c1.meta.n_sources
    again = c2.df().toPandas().sort_values("sid", ignore_index=True)
    pd.testing.assert_frame_equal(snap, again)

    # (b) torn-commit replay: same rows arrive under a new batch_id
    # (as if the metadata commit was lost) — replace-by-id converges
    c3 = c2.append(bdf, batch_id=1)
    assert c3.meta.last_batch_id == 1
    assert c3.meta.n_sources == c1.meta.n_sources
    final = c3.df().toPandas().sort_values("sid", ignore_index=True)
    pd.testing.assert_frame_equal(snap, final)
    halo_final = c3.margin_df().toPandas().sort_values(
        ["sid", "Norder", "Npix"], ignore_index=True)
    pd.testing.assert_frame_equal(halo_snap, halo_final)

    # a fresh writer after restart sees the durable high-water mark
    reloaded = Catalog.load(spark, str(tmp_path / "xo"), "xo")
    assert reloaded.meta.last_batch_id == 1


def test_genuine_torn_commit_replay_reconciles_everything(spark, tmp_path):
    """A REAL torn commit: the append crashes at the metadata rename,
    AFTER the data overwrite and halo append already landed.  The
    committed metadata then predates the batch while the batch rows are
    on disk — the case where naive recounting cancels the batch out of
    n_sources.  Replay from the durable state must converge to exact
    n_sources, no duplicate rows, and exactly-once halo rows."""
    import os as _os

    import lsd2_spark.catalog as catmod

    rng = np.random.default_rng(47)
    n = 3000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": rng.uniform(0, 360, n),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
    })
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "tc"), "tc",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=800, order_k=6, write_margins=True,
    )
    # batch = random rows + rows AT known boundary positions (copied from
    # the base ingest's halo rows) so the batch is guaranteed to produce
    # margin rows — a uniform 300-row batch on coarse leaves usually
    # produces none, which would leave the halo path unexercised
    boundary = cat.margin_df().select("ra", "dec").toPandas().head(10)
    n_b = 300 + len(boundary)
    assert len(boundary) > 0
    batch = pd.DataFrame({
        "sid": np.arange(n, n + n_b, dtype=np.int64),
        "ra": np.concatenate([rng.uniform(0, 360, 300), boundary["ra"].to_numpy()]),
        "dec": np.concatenate([
            np.degrees(np.arcsin(rng.uniform(-1, 1, 300))),
            boundary["dec"].to_numpy(),
        ]),
    })
    bdf = spark.createDataFrame(batch)

    real_replace = _os.replace

    def crash_at_commit(src, dst):
        if str(dst).endswith("_meta.json"):
            raise RuntimeError("injected crash at metadata commit")
        return real_replace(src, dst)

    catmod.os.replace = crash_at_commit
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            cat.append(bdf, batch_id=1)
    finally:
        catmod.os.replace = real_replace

    # durable state: old metadata, torn-written data, intent marker present
    reloaded = Catalog.load(spark, str(tmp_path / "tc"), "tc")
    assert reloaded.meta.last_batch_id is None
    assert reloaded.meta.n_sources == n  # metadata predates the batch
    assert _os.path.exists(tmp_path / "tc" / "tc_append_intent.json")

    # replay the SAME batch from the durable state (what foreachBatch does)
    c2 = reloaded.append(bdf, batch_id=1)
    assert c2.meta.last_batch_id == 1
    assert c2.meta.n_sources == n + n_b  # exact despite torn disk state
    assert c2.df().count() == n + n_b
    assert c2.df().select("sid").distinct().count() == n + n_b
    assert not _os.path.exists(tmp_path / "tc" / "tc_append_intent.json")

    # halo rows for the batch landed exactly once (the torn run already
    # appended them; the replay's anti-join must not duplicate)
    halo = c2.margin_df().toPandas()
    assert not halo.duplicated(["sid", "Norder", "Npix"]).any()
    assert (halo["sid"] >= n).any()  # batch halo rows are present

    reloaded2 = Catalog.load(spark, str(tmp_path / "tc"), "tc")
    assert reloaded2.meta.n_sources == n + n_b
    assert reloaded2.meta.last_batch_id == 1


def test_order_k_driver_bound_guard(spark):
    """order_k is a driver-memory knob: the planning histogram collects
    up to 12*4^order_k cells, so out-of-range values must fail fast
    instead of OOMing the driver."""
    pdf = pd.DataFrame({"sid": [1, 2], "ra": [10.0, 20.0], "dec": [0.0, 5.0]})
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="order_k"):
        partition_catalog(df, "/tmp/never-written", "g", ra_col="ra",
                          dec_col="dec", id_col="sid", order_k=15)
    with pytest.raises(ValueError, match="order_k"):
        partition_catalog(df, "/tmp/never-written", "g", ra_col="ra",
                          dec_col="dec", id_col="sid", order_k=-1)


def test_append_snapshot_semantics_documented(spark, tmp_path):
    """Concurrent-reader contract (documented in Catalog.append): dynamic
    partition overwrite REPLACES the files of touched cells, so a
    DataFrame resolved before an append is not snapshot-isolated — its
    next action either fails on the deleted files or reads post-append
    state.  What it must NEVER do is silently return a half-and-half
    mix with duplicated rows.  Readers re-resolve via Catalog.load /
    .df() after appends."""
    rng = np.random.default_rng(41)
    n = 2000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": rng.uniform(0, 360, n),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
    })
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "snap"), "snap",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=600, order_k=6, write_margins=False,
    )
    old_handle = cat.df()
    assert old_handle.count() == n  # resolved pre-append

    extra = pd.DataFrame({
        "sid": np.arange(n, n + 500, dtype=np.int64),
        "ra": rng.uniform(0, 360, 500),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 500))),
    })
    cat2 = cat.append(spark.createDataFrame(extra))
    assert cat2.df().count() == n + 500  # fresh resolution sees everything

    try:
        stale = old_handle.count()
    except Exception:
        pass  # deleted-file failure: the documented (acceptable) outcome
    else:
        # if the action succeeds, it must be one of the two consistent
        # states — never duplicates / partial mixes
        assert stale in (n, n + 500), stale


def test_ingest_rejects_null_coordinates_clearly(spark, tmp_path):
    """NULL ra/dec must fail fast with an actionable message (detected
    for free in the planning histogram), not a TypeError deep in
    driver planning."""
    pdf = pd.DataFrame({
        "sid": [1, 2, 3],
        "ra": [10.0, None, 350.0],
        "dec": [0.0, 20.0, None],
    })
    with pytest.raises(ValueError, match="NULL ra/dec"):
        partition_catalog(spark.createDataFrame(pdf), str(tmp_path / "n"), "n",
                          ra_col="ra", dec_col="dec", id_col="sid",
                          threshold=10, order_k=4, write_margins=False)


def test_delete_rows_rewrites_only_touched_cells(spark, tmp_path):
    """Catalog.delete: matching rows disappear, survivors keep valid
    contiguous _ID ranks, n_sources/coverage update, emptied cells'
    directories vanish, halo rows of deleted ids are purged, and the
    delete is idempotent."""
    import os

    pdf = _make_catalog_pdf(4000)
    df = spark.createDataFrame(pdf)
    cat = partition_catalog(
        df, str(tmp_path / "cat"), "delcat",
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=800, order_k=4, write_margins=True,
    )
    n0 = cat.meta.n_sources
    before_cells = {
        (r["Norder"], r["Npix"])
        for r in cat.df().select("Norder", "Npix").distinct().collect()
    }

    # delete a contiguous id range plus one ENTIRE cell
    some_cell = sorted(before_cells)[0]
    victim_pred = (
        f"(source_id < 500) OR (Norder = {some_cell[0]} AND Npix = {some_cell[1]})"
    )
    n_victims = cat.df().filter(victim_pred).count()
    assert n_victims > 0
    cat2 = cat.delete(victim_pred)

    assert cat2.meta.n_sources == n0 - n_victims
    assert cat2.df().filter(victim_pred).count() == 0
    assert cat2.df().count() == n0 - n_victims

    # survivors in touched cells were re-ranked: _ID ranks contiguous per pixel
    import pandas as pd
    rows = cat2.df().select("_ID").toPandas()
    pix19 = rows["_ID"].to_numpy() >> 21
    ranks = rows["_ID"].to_numpy() & ((1 << 21) - 1)
    s = pd.DataFrame({"p": pix19, "r": ranks}).sort_values(["p", "r"])
    for _, grp in s.groupby("p"):
        assert grp["r"].tolist() == list(range(len(grp)))

    # the fully-deleted cell is gone from disk and the coverage map
    o, p = some_cell
    d = (p // 10_000) * 10_000
    assert not os.path.exists(
        f"{tmp_path}/cat/catalog/Norder={o}/Dir={d}/Npix={p}"
    )
    assert p not in cat2.meta.hips.get(o, [])

    # halo rows of deleted sources are gone; survivors' remain
    m = cat2.margin_df()
    if m is not None:
        assert m.filter("source_id < 500").count() == 0

    # idempotent: re-running the same predicate is a no-op
    cat3 = cat2.delete(victim_pred)
    assert cat3.meta.n_sources == cat2.meta.n_sources
    assert cat3.df().count() == cat2.df().count()

    # reload from disk sees the committed state
    reloaded = Catalog.load(spark, str(tmp_path / "cat"), "delcat")
    assert reloaded.meta.n_sources == cat2.meta.n_sources
    assert reloaded.df().count() == n0 - n_victims


def test_append_rejects_schema_drift(spark, tmp_path):
    """A batch missing a catalog column would silently drop that column
    from every rewritten cell (the merge projects to the batch's
    columns) — append must fail fast on missing OR extra columns."""
    pdf = _make_catalog_pdf(1500)
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "cat"), "drift",
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=800, order_k=4, write_margins=False,
    )
    batch = _make_catalog_pdf(100)
    batch["source_id"] += 1_000_000

    with pytest.raises(ValueError, match="missing columns \\['mag'\\]"):
        cat.append(spark.createDataFrame(batch.drop(columns=["mag"])))

    batch2 = batch.copy()
    batch2["surprise"] = 1.0
    with pytest.raises(ValueError, match="unexpected columns \\['surprise'\\]"):
        cat.append(spark.createDataFrame(batch2))

    # conforming batch still appends
    cat2 = cat.append(spark.createDataFrame(batch))
    assert cat2.meta.n_sources == cat.meta.n_sources + 100


def test_fsck_detects_and_repairs_metadata_drift(spark, tmp_path):
    """fsck must pass on a healthy catalog, flag metadata drift
    (wrong n_sources, stale coverage entry), and repair it from disk
    without touching data files."""
    import json
    import os

    pdf = _make_catalog_pdf(2000)
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "cat"), "fsckcat",
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=800, order_k=4, write_margins=True,
    )
    rep = cat.fsck()
    assert rep["consistent"], rep
    assert rep["n_sources_meta"] == rep["n_rows_disk"] == 2000

    # corrupt the commit record: wrong count + a phantom cell
    meta_path = f"{tmp_path}/cat/fsckcat_meta.json"
    d = json.loads(open(meta_path).read())
    d["n_sources"] = 1234
    first_order = sorted(d["hips"])[0]
    d["hips"][first_order] = d["hips"][first_order] + [999_999]
    open(meta_path, "w").write(json.dumps(d))

    broken = Catalog.load(spark, str(tmp_path / "cat"), "fsckcat")
    rep2 = broken.fsck()
    assert not rep2["consistent"]
    assert rep2["n_sources_meta"] == 1234 and rep2["n_rows_disk"] == 2000
    assert (int(first_order), 999_999) in [
        tuple(c) for c in rep2["cells_meta_only"]
    ]
    assert rep2["duplicate_ids"] == 0 and rep2["bad_rank_pixels"] == 0

    rep3 = broken.fsck(repair=True)
    assert rep3["repaired"]
    fixed = Catalog.load(spark, str(tmp_path / "cat"), "fsckcat")
    assert fixed.meta.n_sources == 2000
    assert 999_999 not in fixed.meta.hips.get(int(first_order), [])
    assert fixed.fsck()["consistent"]
    # data untouched by repair
    assert fixed.df().count() == 2000
