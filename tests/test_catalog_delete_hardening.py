"""Round-7 delete hardening:

1. Margin export — a delete over source columns or over the structural
   Norder/Npix columns withdraws the ``neighbor/`` export instead of
   patching it, and a re-export holds no halo row of a deleted source.
2. Crash-safe delete — a write-ahead intent marker (append's pattern)
   makes ``n_sources``, the coverage map and emptied directories
   converge via the next ``delete`` call or ``fsck(repair=True)``, in
   every crash window, with the export still withdrawn.
3. NULL-predicate totality — rows where the predicate evaluates NULL
   are KEPT and never silently dropped from the count.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from lsd2_spark.catalog import Catalog, partition_catalog

RNG = np.random.default_rng(77)


def _pdf(n=4000):
    ra = RNG.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(RNG.uniform(-1, 1, n)))
    hot = int(n * 0.35)
    ra[:hot] = RNG.normal(45, 0.4, hot) % 360
    dec[:hot] = np.clip(RNG.normal(10, 0.4, hot), -89, 89)
    return pd.DataFrame(
        {
            "source_id": np.arange(n, dtype=np.int64),
            "ra": ra,
            "dec": dec,
            "mag": RNG.uniform(10, 22, n),
        }
    )


def _build(spark, tmp_path, name, n=4000, margins=False):
    return partition_catalog(
        spark.createDataFrame(_pdf(n)), str(tmp_path / name), name,
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=800, order_k=4, write_margins=margins,
    )


# ---------------------------------------------------------------------------
# 1. margin export
# ---------------------------------------------------------------------------


def test_delete_withdraws_margin_export(spark, tmp_path):
    """Norder/Npix in neighbor/ are the halo cell's coordinates, not the
    source's home cell, so no predicate can be pushed into the export
    safely.  A delete over source columns and one over the structural
    columns each withdraw it; a re-export then holds halo rows of live
    sources only."""
    cat = _build(spark, tmp_path, "withdraw", margins=True)
    o, p = sorted(
        (r["Norder"], r["Npix"])
        for r in cat.df().select("Norder", "Npix").distinct().collect()
    )[0]
    victim_ids = set()
    for pred in ("source_id < 700", f"Norder = {o} AND Npix = {p}"):
        assert cat.margin_df() is not None
        victims = {r["source_id"] for r in cat.df().filter(pred).collect()}
        assert victims
        victim_ids |= victims
        n0 = cat.meta.n_sources
        cat = cat.delete(pred)
        assert cat.margin_df() is None
        assert not os.path.exists(f"{cat.path}/neighbor")
        assert cat.meta.n_sources == n0 - len(victims)
        assert cat.fsck()["consistent"]
        cat = cat.export_margins()

    m = cat.margin_df()
    assert m.count() > 0
    halo_ids = {r["source_id"] for r in m.select("source_id").collect()}
    live = {r["source_id"] for r in cat.df().select("source_id").collect()}
    assert not (halo_ids & victim_ids)
    assert halo_ids <= live


# ---------------------------------------------------------------------------
# 2. crash-injection e2e
# ---------------------------------------------------------------------------


class _Boom(RuntimeError):
    pass


def _crash_delete(cat, predicate, crash_point):
    """Run delete but raise at a chosen point: 'after_data' = right after
    the catalog dynamic overwrite lands, before the emptied directories
    are removed and the metadata commit; 'before_commit' = at the
    metadata commit."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig_parquet = DataFrameWriter.parquet
    orig_commit = Catalog._commit_meta

    def parquet_then_boom(self, path, *a, **k):
        orig_parquet(self, path, *a, **k)
        if path == f"{cat.path}/catalog":
            raise _Boom("crash after the data write")

    def commit_boom(self, *a, **k):
        raise _Boom("crash before metadata commit")

    if crash_point == "after_data":
        DataFrameWriter.parquet = parquet_then_boom
    Catalog._commit_meta = commit_boom
    try:
        with pytest.raises(_Boom):
            cat.delete(predicate)
    finally:
        DataFrameWriter.parquet = orig_parquet
        Catalog._commit_meta = orig_commit


@pytest.mark.parametrize("crash_point", ["after_data", "before_commit"])
def test_crashed_delete_converges_via_fsck_repair(spark, tmp_path, crash_point):
    cat = _build(spark, tmp_path, f"crashf_{crash_point}", margins=True)
    n0 = cat.meta.n_sources
    n_victims = cat.df().filter("source_id < 600").count()

    _crash_delete(cat, "source_id < 600", crash_point)

    # torn state: data rewritten, metadata stale, marker present
    stale = Catalog.load(spark, cat.path, cat.meta.cat_name)
    assert stale.meta.n_sources == n0  # overcounted
    rep = stale.fsck()
    assert not rep["consistent"]
    assert rep["stale_delete_intent"]

    rep2 = stale.fsck(repair=True)
    assert rep2["repaired"]
    healed = Catalog.load(spark, cat.path, cat.meta.cat_name)
    final = healed.fsck()
    assert final["consistent"], final
    assert healed.meta.n_sources == n0 - n_victims
    assert healed.df().filter("source_id < 600").count() == 0
    assert healed.margin_df() is None  # withdrawn before the data write


def test_crashed_delete_converges_via_next_delete(spark, tmp_path):
    """The next delete call replays the intent marker first, so a
    crashed delete + a later unrelated delete ends fully consistent."""
    cat = _build(spark, tmp_path, "crashd")
    n0 = cat.meta.n_sources
    n_a = cat.df().filter("source_id < 600").count()

    _crash_delete(cat, "source_id < 600", "after_data")

    stale = Catalog.load(spark, cat.path, cat.meta.cat_name)
    n_b = stale.df().filter("mag > 21.5").count()
    cat2 = stale.delete("mag > 21.5")

    assert cat2.meta.n_sources == n0 - n_a - n_b
    assert cat2.df().count() == n0 - n_a - n_b
    assert cat2.fsck()["consistent"]
    assert not os.path.exists(cat2._delete_intent_path())


def test_delete_replay_is_idempotent_after_partial_metadata(spark, tmp_path):
    """Crash AFTER metadata commit but before marker removal: the
    marker replay must be a no-op (same accounting twice)."""
    cat = _build(spark, tmp_path, "partial")
    n0 = cat.meta.n_sources
    n_victims = cat.df().filter("source_id < 600").count()

    # snapshot the marker's accounting BEFORE the delete (the real
    # marker is written pre-mutation; df() is lazy over live disk, so
    # these must be materialized now)
    touched_cells = sorted(
        (int(r["Norder"]), int(r["Npix"]))
        for r in cat.df()
        .filter("source_id < 600")
        .select("Norder", "Npix")
        .distinct()
        .collect()
    )
    pre_touched = int(
        cat.df()
        .join(
            cat.df()
            .filter("source_id < 600")
            .select("Norder", "Npix")
            .distinct(),
            ["Norder", "Npix"],
            "left_semi",
        )
        .count()
    )
    cat2 = cat.delete("source_id < 600")
    # simulate the torn window: crash AFTER metadata commit but before
    # marker removal — re-create the marker the delete wrote
    marker = {
        "touched": touched_cells,
        "pre_touched": pre_touched,
        "committed_n_sources": n0,
    }
    with open(cat2._delete_intent_path(), "w") as f:
        json.dump(marker, f)

    healed = cat2._reconcile_delete_intent()
    assert healed.meta.n_sources == n0 - n_victims
    assert healed.fsck()["consistent"]


# ---------------------------------------------------------------------------
# 3. NULL-predicate totality
# ---------------------------------------------------------------------------


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """A predicate that evaluates NULL on a row must KEEP that row —
    and n_sources must account exactly for the pred=TRUE rows."""
    pdf = _pdf(2000)
    pdf["flag"] = np.where(pdf["source_id"] % 3 == 0, "del", None)
    pdf.loc[pdf["source_id"] % 3 == 1, "flag"] = "keep"
    cat = partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "nulls"), "nulls",
        ra_col="ra", dec_col="dec", id_col="source_id",
        threshold=800, order_k=4, write_margins=False,
    )
    n0 = cat.meta.n_sources
    n_del = cat.df().filter("flag = 'del'").count()
    n_null = cat.df().filter("flag IS NULL").count()
    assert n_null > 0

    cat2 = cat.delete("flag = 'del'")
    assert cat2.meta.n_sources == n0 - n_del
    assert cat2.df().count() == n0 - n_del
    assert cat2.df().filter("flag IS NULL").count() == n_null
    assert cat2.fsck()["consistent"]
