"""The round-13 JVM-window spatial index (`_with_spatial_index`) must
compute the exact `_ID`s the per-cell pandas kernel did (the
reference's lexsort semantics, hipscat/util.py:14-69) while keeping the
full row set out of the Python boundary: the helper takes pix@19 from
its caller (ingest's and append's one (ra, dec) -> pix@19 pass for new
rows, a shift of the stored `_ID` for rows already in the catalog)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lsd2_spark import healpix as hpx
from lsd2_spark.catalog import (
    RANK_BITS,
    SPATIAL_INDEX_ORDER,
    _with_spatial_index,
    partition_catalog,
)


def _pdf(n: int = 3000, seed: int = 7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    ra = rng.uniform(0.0, 360.0, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    # a tight cluster: many rows share one pix@19, so rank > 0 is
    # actually exercised (pixel size at order 19 is ~0.4 arcsec)
    ra[:64] = 45.0 + np.arange(64) * 1e-9
    dec[:64] = 10.0 + (np.arange(64) % 8) * 1e-10
    return pd.DataFrame({"sid": np.arange(n, dtype=np.int64), "ra": ra, "dec": dec})


def _expected_ids(pdf: pd.DataFrame) -> dict[int, int]:
    """Reference semantics, recomputed independently: lexsort by
    (pix@19, ra, dec); rank counts within each pix@19 run."""
    pix = hpx.ang2pix(
        SPATIAL_INDEX_ORDER, pdf["ra"].to_numpy(), pdf["dec"].to_numpy()
    )
    order = np.lexsort((pdf["dec"].to_numpy(), pdf["ra"].to_numpy(), pix))
    pix_sorted = pix[order]
    first = np.ones(len(pix_sorted), dtype=bool)
    first[1:] = pix_sorted[1:] != pix_sorted[:-1]
    group_start = np.maximum.accumulate(
        np.where(first, np.arange(len(pix_sorted)), 0)
    )
    rank = np.arange(len(pix_sorted)) - group_start
    ids = pix_sorted * (1 << RANK_BITS) + rank
    return dict(zip(pdf["sid"].to_numpy()[order].tolist(), ids.tolist()))


def test_ingest_ids_match_reference_lexsort_semantics(spark, tmp_path):
    pdf = _pdf()
    cat = partition_catalog(
        spark.createDataFrame(pdf),
        str(tmp_path / "cat"),
        "winidx",
        ra_col="ra",
        dec_col="dec",
        id_col="sid",
        threshold=800,
        order_k=7,
        write_margins=False,
    )
    got = {
        int(r["sid"]): int(r["_ID"])
        for r in cat.df().select("sid", "_ID").collect()
    }
    assert got == _expected_ids(pdf)
    # the cluster really exercised ranks beyond 0
    assert max(i & ((1 << RANK_BITS) - 1) for i in got.values()) >= 63


def test_window_index_plan_stays_out_of_python(spark):
    df = spark.createDataFrame(_pdf(400))
    df = df.withColumn("Norder", F.lit(3)).withColumn(
        "Npix",
        F.shiftright(
            F.col("sid") % F.lit(4), 0
        ).cast("long"),
    )
    # any precomputed JVM long works here — the point is that the
    # helper itself adds no Arrow pass: callers hand it pix@19
    df = df.withColumn("_p19", (F.col("sid") % F.lit(1000)).cast("long"))
    out = _with_spatial_index(df, "ra", "dec", p19_col="_p19")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the full row set must not round-trip through Python: no grouped
    # pandas kernel, ranking happens in a JVM window
    assert "FlatMapGroupsInPandas" not in plan
    assert "Window" in plan
    assert "ArrowEvalPython" not in plan
    assert "_p19" not in out.columns and "_ID" in out.columns
