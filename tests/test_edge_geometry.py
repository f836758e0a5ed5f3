"""The reference's known weak spots as explicit fixtures (FIXTURES.md
F5/F7, SURVEY §7 hard parts): RA-wraparound pairs, polar pairs,
self-match, and the notebook-parity end-to-end flow."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import lsd2_spark.healpix as hpx
from lsd2_spark.catalog import Catalog, partition_catalog

RNG = np.random.default_rng(11)


def _cat(spark, tmp_path, name, pdf, threshold=500):
    return partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / name), name,
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=threshold, order_k=7, write_margins=False,
    )


def test_crossmatch_across_ra_wrap(spark, tmp_path):
    """Planted pairs straddling ra=0/360 at < 0.05 deg must match."""
    n = 2000
    base = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": np.concatenate([RNG.uniform(359.9, 360, n // 2) % 360,
                              RNG.uniform(0, 0.1, n // 2)]),
        "dec": RNG.uniform(-60, 60, n),
    })
    partner = base.copy()
    partner["sid"] = partner["sid"] + 10_000
    # offset across the wrap: +0.04 deg in ra (mod 360)
    partner["ra"] = (partner["ra"] + 0.04) % 360
    c1 = _cat(spark, tmp_path, "wrapl", base)
    c2 = _cat(spark, tmp_path, "wrapr", partner)
    got = c1.cross_match(c2, n_neighbors=1, dthresh=0.1).toPandas()
    # every left row has its planted partner within 0.1 deg
    assert len(got) == n
    assert (got["_DIST"].to_numpy() < 0.1).all()
    # exact oracle: nearest right row (ties impossible with random data)
    d = hpx.gc_dist_deg(
        base["ra"].to_numpy()[:, None], base["dec"].to_numpy()[:, None],
        partner["ra"].to_numpy()[None, :], partner["dec"].to_numpy()[None, :],
    )
    nearest = partner["sid"].to_numpy()[d.argmin(axis=1)]
    got_sorted = got.sort_values("wrapl_sid")
    assert (got_sorted["wrapr_sid"].to_numpy() == nearest).all()


def test_crossmatch_at_poles(spark, tmp_path):
    """Pairs within 0.5 deg of both poles must match across polar
    pixel geometry (margin_utils.py:307-375 weak spot)."""
    n = 1000
    base = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": RNG.uniform(0, 360, n),
        "dec": np.concatenate([RNG.uniform(89.5, 89.99, n // 2),
                               RNG.uniform(-89.99, -89.5, n // 2)]),
    })
    partner = base.copy()
    partner["sid"] = partner["sid"] + 10_000
    partner["ra"] = (partner["ra"] + RNG.uniform(-0.01, 0.01, n)) % 360
    partner["dec"] = np.clip(partner["dec"] + RNG.uniform(-0.005, 0.005, n), -90, 90)
    c1 = _cat(spark, tmp_path, "poll", base)
    c2 = _cat(spark, tmp_path, "polr", partner)
    got = c1.cross_match(c2, n_neighbors=1, dthresh=0.05).toPandas()
    # oracle: brute force
    d = hpx.gc_dist_deg(base["ra"].to_numpy()[:, None], base["dec"].to_numpy()[:, None],
                        partner["ra"].to_numpy()[None, :], partner["dec"].to_numpy()[None, :])
    want = (d.min(axis=1) < 0.05).sum()
    assert len(got) == want


def test_self_crossmatch(spark, tmp_path):
    """Self-match via exclude_self=True — the reference's unimplemented
    TODO (catalog.py:227-228)."""
    n = 3000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": RNG.uniform(10, 20, n),
        "dec": RNG.uniform(-5, 5, n),
    })
    cat = _cat(spark, tmp_path, "selfcat", pdf)
    with pytest.raises(ValueError, match="exclude_self"):
        cat.cross_match(cat)  # guard still fires without the flag
    got = cat.cross_match(cat, n_neighbors=1, dthresh=0.5, exclude_self=True).toPandas()
    # suffixed right columns, and never a self pair
    assert "selfcat_sid" in got.columns and "selfcat_2_sid" in got.columns
    assert (got["selfcat_sid"] != got["selfcat_2_sid"]).all()
    assert (got["_DIST"] > 0).all() or len(got) == 0
    # oracle: nearest other row within dthresh
    d = hpx.gc_dist_deg(pdf["ra"].to_numpy()[:, None], pdf["dec"].to_numpy()[:, None],
                        pdf["ra"].to_numpy()[None, :], pdf["dec"].to_numpy()[None, :])
    np.fill_diagonal(d, np.inf)
    assert len(got) == (d.min(axis=1) < 0.5).sum()


def _typed_side(spark, prefix: str, ra, dec, first_id: int):
    """A raw DataFrame whose extra columns are a nullable long and a
    nullable string (every third row null)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    n = len(ra)
    rows = [
        (first_id + i, float(ra[i]), float(dec[i]),
         None if i % 3 == 0 else 10 * i, None if i % 3 == 1 else f"{prefix}{i}")
        for i in range(n)
    ]
    schema = StructType([
        StructField("sid", LongType()), StructField("ra", DoubleType()),
        StructField("dec", DoubleType()), StructField("n", LongType()),
        StructField("tag", StringType()),
    ])
    return spark.createDataFrame(rows, schema), pd.DataFrame(
        rows, columns=["sid", "ra", "dec", "n", "tag"]
    )


def test_arrow_kernel_keeps_nullable_columns_and_types(spark):
    """The k-NN kernel gathers output columns with Arrow ``take``:
    nullable long and string columns on both sides come out with their
    Spark types and their nulls in the right rows."""
    from pyspark.sql.types import LongType, StringType

    from lsd2_spark.operators.crossmatch import crossmatch_dataframes

    n = 300
    ra, dec = RNG.uniform(30, 31, n), RNG.uniform(5, 6, n)
    left, lp = _typed_side(spark, "l", ra, dec, 0)
    right, rp = _typed_side(
        spark, "r", ra + RNG.uniform(-2e-3, 2e-3, n), dec + RNG.uniform(-2e-3, 2e-3, n), 10_000
    )
    hips = {0: list(range(12))}
    out = crossmatch_dataframes(left, right, hips, hips, "ra", "dec", "sid",
                                "ra", "dec", "sid", n_neighbors=1, dthresh=0.01)
    types = {f.name: f.dataType for f in out.schema.fields}
    assert types["left_n"] == LongType() and types["right_n"] == LongType()
    assert types["left_tag"] == StringType() and types["right_tag"] == StringType()
    got = out.collect()
    d = hpx.gc_dist_deg(lp["ra"].to_numpy()[:, None], lp["dec"].to_numpy()[:, None],
                        rp["ra"].to_numpy()[None, :], rp["dec"].to_numpy()[None, :])
    best = d.argmin(axis=1)
    want = {int(lp["sid"][i]): int(rp["sid"][best[i]]) for i in range(n) if d[i, best[i]] < 0.01}
    assert {r["left_sid"]: r["right_sid"] for r in got} == want and len(got) == len(want)
    lrow, rrow = lp.set_index("sid"), rp.set_index("sid")
    nulls = {"left_n": 0, "left_tag": 0, "right_n": 0, "right_tag": 0}
    for r in got:
        for side, frame, key in (("left", lrow, r["left_sid"]), ("right", rrow, r["right_sid"])):
            for c in ("n", "tag"):
                v = frame.at[key, c]
                want_v = None if pd.isna(v) else (int(v) if c == "n" else v)
                assert r[f"{side}_{c}"] == want_v, (side, c, key)
                nulls[f"{side}_{c}"] += want_v is None
    assert all(nulls.values()), nulls


def test_arrow_kernel_cell_without_right_rows_and_self_pairs(spark):
    """A cell with left rows but no right rows returns nothing (directly
    and through Spark), and exclude_same_id drops self pairs."""
    import pyarrow as pa

    from lsd2_spark.operators.crossmatch import (
        _knn_kernel_factory, _prefixed_schema, crossmatch_dataframes,
    )

    n = 200
    ra, dec = RNG.uniform(30, 31, n), RNG.uniform(5, 6, n)
    left, lp = _typed_side(spark, "l", ra, dec, 0)
    right, _ = _typed_side(spark, "r", ra + 180.0, -dec, 10_000)  # other side of the sky
    hips = {0: list(range(12))}
    cols = ["sid", "ra", "dec", "n", "tag"]
    assert crossmatch_dataframes(left, right, hips, hips, "ra", "dec", "sid",
                                 "ra", "dec", "sid", dthresh=0.5).count() == 0

    schema = _prefixed_schema(left, right, cols, cols, "left", "right")
    kernel = _knn_kernel_factory(cols, cols, "ra", "dec", "ra", "dec", "sid", 1, 0.5, schema)
    ltab = pa.Table.from_pandas(lp, preserve_index=False)
    empty = kernel((pa.scalar(0, pa.int32()), pa.scalar(4, pa.int64())), ltab, ltab.slice(0, 0))
    assert empty.num_rows == 0 and empty.schema.names == schema.fieldNames()

    same = crossmatch_dataframes(left, left, hips, hips, "ra", "dec", "sid",
                                 "ra", "dec", "sid", n_neighbors=1, dthresh=0.5,
                                 exclude_same_id=True).toPandas()
    d = hpx.gc_dist_deg(ra[:, None], dec[:, None], ra[None, :], dec[None, :])
    np.fill_diagonal(d, np.inf)
    assert len(same) == (d.min(axis=1) < 0.5).sum() and len(same) > 0
    assert (same["left_sid"] != same["right_sid"]).all()
    np.testing.assert_array_equal(
        same.sort_values("left_sid")["right_sid"].to_numpy(),
        lp["sid"].to_numpy()[d.argmin(axis=1)][np.sort(same["left_sid"].to_numpy())],
    )


def test_bad_input_raises_value_error_not_assert(spark, tmp_path):
    """Input checks must survive ``python -O``, which strips asserts."""
    from lsd2_spark.operators.crossmatch import crossmatch_dataframes

    df = spark.createDataFrame(pd.DataFrame({"sid": [1], "ra": [1.0], "dec": [1.0]}))
    hips = {0: list(range(12))}
    for bad in ({"n_neighbors": 0}, {"dthresh": 0.0}, {"dthresh": 90.0}):
        with pytest.raises(ValueError):
            crossmatch_dataframes(df, df, hips, hips, "ra", "dec", "sid",
                                  "ra", "dec", "sid", **bad)
    for name in ("a", "b"):
        (tmp_path / f"{name}_meta.json").write_text("{}")
    with pytest.raises(ValueError, match="ambiguous"):
        Catalog.load(spark, str(tmp_path))


def test_catalog_plans_stop_at_the_index_order(spark, tmp_path):
    """A radius finer than an order-19 pixel with hot-cell refinement:
    the catalog cross-match splits no cell past the index order, whose
    pixels shift out of _ID, and still matches brute force.  Rebalance
    rejects a max_order past the index order before it reads a row."""
    n, dthresh = 300, 1e-6
    left = pd.DataFrame({"sid": np.arange(n, dtype=np.int64),
                         "ra": 10 + RNG.uniform(0, 2e-3, n),
                         "dec": 20 + RNG.uniform(0, 2e-3, n)})
    right = left.copy()
    right["sid"] += 10_000
    right["dec"] += RNG.uniform(-8e-7, 8e-7, n)
    c1 = _cat(spark, tmp_path, "finel", left)
    c2 = _cat(spark, tmp_path, "finer", right)
    got = c1.cross_match(
        c2, n_neighbors=1, dthresh=dthresh, max_pairs_per_cell=1
    ).toPandas()
    d = hpx.gc_dist_deg(left["ra"].to_numpy()[:, None], left["dec"].to_numpy()[:, None],
                        right["ra"].to_numpy()[None, :], right["dec"].to_numpy()[None, :])
    best = d.argmin(axis=1)
    hit = d[np.arange(n), best] < dthresh
    want = set(zip(left["sid"][hit], right["sid"].to_numpy()[best[hit]]))
    assert len(want) > n // 2
    assert set(zip(got["finel_sid"], got["finer_sid"])) == want
    assert got["hips_k"].max() == 19
    with pytest.raises(ValueError, match="max_order"):
        c1.rebalance(max_order=20)


def _pole_and_edge_rows(first_id: int, n_random: int) -> pd.DataFrame:
    """Both poles, the polar-cap/equatorial-belt latitude, the equator,
    face-boundary meridians and ra just below 360, plus random rows."""
    cap = np.degrees(np.arcsin(2.0 / 3.0))
    grid = [(ra, dec) for ra in np.arange(0.0, 360.0, 22.5)
            for dec in (90.0, -90.0, cap, -cap, 0.0)]
    grid += [(ra, dec) for ra in (0.0, 45.0, 90.0, 315.0, 359.9999999)
             for dec in np.linspace(-89.9, 89.9, 7)]
    ra = np.concatenate([[g[0] for g in grid], RNG.uniform(0, 360, n_random)])
    dec = np.concatenate([[g[1] for g in grid],
                          np.degrees(np.arcsin(RNG.uniform(-1, 1, n_random)))])
    return pd.DataFrame({"sid": np.arange(len(ra), dtype=np.int64) + first_id,
                         "ra": ra, "dec": dec})


def _assert_index_pixels_exact(cat):
    """Every row's _ID shifted to order k is healpix.ang2pix(k) of its
    position, for k = 0..19, and the shift at Norder is its Npix."""
    pdf = cat.df().select("ra", "dec", "_ID", "Norder", "Npix").toPandas()
    ids = pdf["_ID"].to_numpy(dtype=np.int64)
    for k in range(20):
        want = hpx.ang2pix(k, pdf["ra"].to_numpy(), pdf["dec"].to_numpy())
        np.testing.assert_array_equal(ids >> (21 + 2 * (19 - k)), want, err_msg=f"k={k}")
    leaf = ids >> (21 + 2 * (19 - pdf["Norder"].to_numpy(dtype=np.int64)))
    np.testing.assert_array_equal(leaf, pdf["Npix"].to_numpy())


def test_index_pixel_is_exact_through_append_and_rebalance(spark, tmp_path):
    """Cross-match, append, delete and rebalance take pixels from _ID
    instead of pixelizing rows again: the shift must equal ang2pix at
    every order, at poles and face edges, after each mutation that
    re-indexes rows."""
    cat = _cat(spark, tmp_path, "edges", _pole_and_edge_rows(0, 400), threshold=120)
    _assert_index_pixels_exact(cat)
    cat = cat.append(spark.createDataFrame(_pole_and_edge_rows(100_000, 400)))
    _assert_index_pixels_exact(cat)
    before = cat.meta.hips
    cat = cat.rebalance(threshold=40, max_order=9)
    assert cat.meta.hips != before  # something was split
    _assert_index_pixels_exact(cat)
    assert cat.fsck()["consistent"]


def test_notebook_parity_flow(spark, tmp_path):
    """The reference's de-facto end-to-end test (example_usage.ipynb):
    import two overlapping catalogs → check metadata/columns/length →
    assign+query → cone search → cross-match with post-filter."""
    from pyspark.sql import functions as F

    n = 10_000
    a = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": RNG.uniform(50, 70, n),
        "dec": RNG.uniform(10, 30, n),
        "pmra": RNG.normal(0, 30, n),
        "pmdec": RNG.normal(0, 30, n),
        "radial_velocity": RNG.normal(0, 50, n),
    })
    b = a.sample(frac=0.5, random_state=1).copy()
    b["sid"] += 1_000_000
    b["ra"] += RNG.uniform(-0.003, 0.003, len(b))

    ca = _cat(spark, tmp_path, "gaia_ex", a, threshold=2000)
    cb = _cat(spark, tmp_path, "gaia_exb", b, threshold=2000)

    # metadata / columns / length (notebook cells 8-10)
    assert ca.meta.n_sources == n
    assert {"sid", "ra", "dec", "pmra"} <= set(ca.df().columns)
    assert ca.df().count() == n

    # assign + query (cell 11): pm = sqrt(pmra²+pmdec²); filter
    df = ca.df().withColumn(
        "pm", F.sqrt(F.pow(F.col("pmra"), 2) + F.pow(F.col("pmdec"), 2))
    )
    q = df.filter("pm > 20.0 AND radial_velocity > 0")
    pm = np.hypot(a["pmra"], a["pmdec"])
    assert q.count() == int(((pm > 20) & (a["radial_velocity"] > 0)).sum())

    # cone search (cells 14-16)
    cone = ca.cone_search(60.0, 20.0, 5.0)
    d = hpx.gc_dist_deg(a["ra"].to_numpy(), a["dec"].to_numpy(), 60.0, 20.0)
    assert cone.count() == int((d < 5.0).sum())

    # cross-match + post-filter (cell 19)
    xm = ca.cross_match(cb, n_neighbors=1, dthresh=0.01)
    filtered = xm.filter(F.col("_DIST") < 0.005)
    assert 0 < filtered.count() <= xm.count()


def test_debug_mode_truncates_plan(spark, tmp_path):
    """debug=True truncates the cell plan to 5 cells (reference
    catalog.py:175-177) and warns."""
    n = 4000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": RNG.uniform(0, 360, n),
        "dec": np.degrees(np.arcsin(RNG.uniform(-1, 1, n))),
    })
    c1 = _cat(spark, tmp_path, "dbgl", pdf, threshold=300)
    c2 = _cat(spark, tmp_path, "dbgr", pdf.assign(sid=pdf.sid + 10_000), threshold=300)
    full = c1.cross_match(c2, n_neighbors=1, dthresh=0.5).toPandas()
    with pytest.warns(UserWarning, match="5 cells"):
        truncated = c1.cross_match(c2, n_neighbors=1, dthresh=0.5, debug=True).toPandas()
    # strictly fewer result cells, and only cells from the full run
    assert truncated[["hips_k", "hips_pix"]].drop_duplicates().shape[0] <= 5
    assert 0 < len(truncated) < len(full)


def test_wide_result_warning(spark, tmp_path):
    """>50 output columns warns (reference catalog.py:237-241)."""
    n = 200
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": RNG.uniform(0, 360, n),
        "dec": RNG.uniform(-60, 60, n),
    })
    for i in range(24):
        pdf[f"x{i}"] = np.float64(i)
    c1 = _cat(spark, tmp_path, "widel", pdf)
    c2 = _cat(spark, tmp_path, "wider", pdf.assign(sid=pdf.sid + 10_000))
    with pytest.warns(UserWarning, match="more than 50 columns"):
        c1.cross_match(c2, n_neighbors=1, dthresh=0.5)


def test_crossmatch_hot_cell_skew(spark, tmp_path):
    """SURVEY §7 hard part 5: a dense cluster concentrated in ONE cell
    (plus sparse background) must still match correctly — the cogroup
    kernel is bounded per cell and AQE handles the skewed shuffle."""
    n_dense, n_sparse = 8000, 500
    dense = pd.DataFrame({
        "sid": np.arange(n_dense, dtype=np.int64),
        "ra": RNG.uniform(100.0, 100.4, n_dense),     # ~one fine cell
        "dec": RNG.uniform(10.0, 10.4, n_dense),
    })
    sparse = pd.DataFrame({
        "sid": np.arange(n_dense, n_dense + n_sparse, dtype=np.int64),
        "ra": RNG.uniform(0, 360, n_sparse),
        "dec": RNG.uniform(-60, 60, n_sparse),
    })
    base = pd.concat([dense, sparse], ignore_index=True)
    partner = base.copy()
    partner["sid"] += 100_000
    partner["ra"] = (partner["ra"] + 0.01) % 360
    c1 = _cat(spark, tmp_path, "hotl", base, threshold=1000)
    c2 = _cat(spark, tmp_path, "hotr", partner, threshold=1000)
    got = c1.cross_match(c2, n_neighbors=1, dthresh=0.05).toPandas()
    # every left row found a partner (planted at 0.01 deg)
    assert len(got) == len(base)
    assert (got["_DIST"].to_numpy() < 0.05).all()
    # exact nearest-neighbor oracle on the dense block boundary rows
    d = hpx.gc_dist_deg(
        base["ra"].to_numpy()[:, None], base["dec"].to_numpy()[:, None],
        partner["ra"].to_numpy()[None, :], partner["dec"].to_numpy()[None, :],
    )
    nearest = partner["sid"].to_numpy()[d.argmin(axis=1)]
    got_sorted = got.sort_values("hotl_sid")
    assert (got_sorted["hotr_sid"].to_numpy() == nearest).all()

    # opt-in AUTOMATIC hot-cell refinement (VERDICT r12 #5): a tight
    # pair bound must split the dense region's plan cell and return
    # the IDENTICAL pair set — same rows, same neighbors, same dists
    auto = c1.cross_match(
        c2, n_neighbors=1, dthresh=0.05, max_pairs_per_cell=1e4
    ).toPandas()
    assert len(auto) == len(got)
    auto_sorted = auto.sort_values("hotl_sid")
    assert (auto_sorted["hotr_sid"].to_numpy()
            == got_sorted["hotr_sid"].to_numpy()).all()
    np.testing.assert_allclose(
        auto_sorted["_DIST"].to_numpy(), got_sorted["_DIST"].to_numpy()
    )
    # the refinement actually split: the dense block spans more result
    # cells than under the unrefined plan
    assert (
        auto[["hips_k", "hips_pix"]].drop_duplicates().shape[0]
        > got[["hips_k", "hips_pix"]].drop_duplicates().shape[0]
    )
