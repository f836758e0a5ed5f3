"""Round-7 delete hardening:

1. Margin export — a delete over source columns or over the structural
   Norder/Npix columns withdraws the ``neighbor/`` export instead of
   patching it, and a re-export holds no halo row of a deleted source.
2. Crash-safe delete — the delete commits by publishing the next
   metadata version: a crash before the publish leaves the previous
   version (rows, ``n_sources``, a vouched export) whole, a crash after
   it the new one, and the files either leaves unlisted are removed by
   the next ``delete`` over those leaves or by ``fsck(repair=True)``.
3. NULL-predicate totality — rows where the predicate evaluates NULL
   are KEPT and never silently dropped from the count.
"""

from __future__ import annotations

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
    """Run delete but raise at a chosen point: 'after_data' = right
    after the rewritten cells' files land, before the publish;
    'before_commit' = at the publish; 'after_commit' = right after
    the publish, before the superseded files are deleted."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig_parquet = DataFrameWriter.parquet
    seam = "_drop_superseded" if crash_point == "after_commit" else "_commit_meta"
    orig_seam = getattr(Catalog, seam)

    def parquet_then_boom(self, path, *a, **k):
        orig_parquet(self, path, *a, **k)
        if path == f"{cat.path}/catalog":
            raise _Boom("crash after the data write")

    def boom(self, *a, **k):
        raise _Boom(f"crash at {seam}")

    if crash_point == "after_data":
        DataFrameWriter.parquet = parquet_then_boom
    setattr(Catalog, seam, boom)
    try:
        with pytest.raises(_Boom):
            cat.delete(predicate)
    finally:
        DataFrameWriter.parquet = orig_parquet
        setattr(Catalog, seam, orig_seam)


@pytest.mark.parametrize("crash_point", ["after_data", "before_commit"])
def test_crashed_delete_converges_via_fsck_repair(spark, tmp_path, crash_point):
    """A crash before the publish: the committed version is the
    pre-delete one — every row, ``n_sources`` and the vouched margin
    export stay valid; fsck reports the rewritten cells' files as
    unlisted and repair removes them; the retried delete then
    applies."""
    cat = _build(spark, tmp_path, f"crashf_{crash_point}", margins=True)
    n0 = cat.meta.n_sources
    n_victims = cat.df().filter("source_id < 600").count()

    _crash_delete(cat, "source_id < 600", crash_point)

    stale = Catalog.load(spark, cat.path, cat.meta.cat_name)
    assert stale.meta == cat.meta
    assert stale.df().count() == n0
    assert stale.df().filter("source_id < 600").count() == n_victims
    assert stale.margin_df() is not None  # it still describes these rows
    rep = stale.fsck()
    assert not rep["consistent"]
    assert rep["unlisted_files"] and rep["n_rows_disk"] == n0

    rep2 = stale.fsck(repair=True)
    assert rep2["repaired"]
    healed = Catalog.load(spark, cat.path, cat.meta.cat_name)
    final = healed.fsck()
    assert final["consistent"], final
    assert healed.meta.n_sources == n0
    assert healed.margin_df() is not None

    done = healed.delete("source_id < 600")
    assert done.meta.n_sources == n0 - n_victims
    assert done.df().filter("source_id < 600").count() == 0
    assert done.margin_df() is None
    assert done.fsck()["consistent"]


def test_crashed_delete_converges_via_next_delete(spark, tmp_path):
    """The next delete over the crashed delete's cells removes its
    leftover files before it writes, so a crashed delete, its retry and
    a later unrelated delete end fully consistent."""
    cat = _build(spark, tmp_path, "crashd")
    n0 = cat.meta.n_sources
    n_a = cat.df().filter("source_id < 600").count()

    _crash_delete(cat, "source_id < 600", "after_data")

    stale = Catalog.load(spark, cat.path, cat.meta.cat_name)
    assert stale.fsck()["unlisted_files"]
    retried = stale.delete("source_id < 600")
    assert retried.meta.n_sources == n0 - n_a
    assert retried.fsck()["consistent"]
    n_b = retried.df().filter("mag > 21.5").count()
    cat2 = retried.delete("mag > 21.5")

    assert cat2.meta.n_sources == n0 - n_a - n_b
    assert cat2.df().count() == n0 - n_a - n_b
    assert cat2.fsck()["consistent"]


def test_delete_replay_is_idempotent_after_partial_metadata(spark, tmp_path):
    """Crash AFTER the publish, before the superseded files are
    deleted: the delete is committed and exact, the old files sit
    unlisted and unread, replaying the delete is a no-op, and
    fsck(repair=True) removes them."""
    cat = _build(spark, tmp_path, "partial")
    n0 = cat.meta.n_sources
    n_victims = cat.df().filter("source_id < 600").count()

    _crash_delete(cat, "source_id < 600", "after_commit")

    torn = Catalog.load(spark, cat.path, cat.meta.cat_name)
    assert torn.meta.version == cat.meta.version + 1
    assert torn.meta.n_sources == n0 - n_victims
    assert torn.df().count() == n0 - n_victims
    rep = torn.fsck()
    assert rep["unlisted_files"] and not rep["consistent"]

    again = torn.delete("source_id < 600")
    assert again.meta == torn.meta
    assert again.fsck(repair=True)["repaired"]
    healed = Catalog.load(spark, cat.path, cat.meta.cat_name)
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
