"""Catalog.append places a batch with one probe join over a plan table
that covers the sphere, and counts once: rows land in the leaves the
``order_k`` rule names (existing leaves, new ``order_k`` leaves, or new
leaves at the finest order of the finer leaves already inside their
``order_k`` pixel), ``n_sources`` is the true row count, and the plans
hold one pixelization, one cache (of the placed batch), one sort per
write and no sort-merge join."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest

from lsd2_spark import healpix as hpx
from lsd2_spark.catalog import partition_catalog
from lsd2_spark.plans.partition_map import assignment_cells

RNG = np.random.default_rng(41)


def _sky(n, ra_lo, ra_hi, offset=0):
    return pd.DataFrame({
        "sid": np.arange(offset, offset + n, dtype=np.int64),
        "ra": RNG.uniform(ra_lo, ra_hi, n),
        "dec": np.degrees(np.arcsin(RNG.uniform(-1, 1, n))),
    })


def _clump(n, ra, dec, sigma, offset):
    return pd.DataFrame({
        "sid": np.arange(offset, offset + n, dtype=np.int64),
        "ra": RNG.normal(ra, sigma, n) % 360,
        "dec": np.clip(RNG.normal(dec, sigma, n), -89, 89),
    })


def _expected_leaf(hips, order_k, ra, dec):
    """The append's rule, stated row by row: the leaf holding the row;
    else a new leaf at ``order_k``, unless the row's ``order_k`` pixel
    holds finer leaves, in which case at the finest of their orders."""
    ra, dec = np.asarray(ra), np.asarray(dec)
    at = {o: hpx.ang2pix(o, ra, dec) for o in range(max([order_k, *hips]) + 1)}
    out = []
    for i in range(len(ra)):
        hit = [(o, int(at[o][i])) for o in hips if int(at[o][i]) in hips[o]]
        if hit:
            out.append(hit[0])
            continue
        kpix = int(at[order_k][i])
        finer = [o for o in hips if o > order_k
                 if any(p >> (2 * (o - order_k)) == kpix for p in hips[o])]
        o = max(finer, default=order_k)
        out.append((o, int(at[o][i])))
    return out


def test_assignment_cells_partition_the_sphere_and_name_the_rule():
    hips = {1: [3], 3: [200, 201, 700], 5: [(700 + 4) * 16 + 3, 9000], 6: [4 * 9001 + 2]}
    order, pix, target = assignment_cells(hips, 4)
    top = 6
    fine = np.concatenate([
        (p << (2 * (top - o))) + np.arange(4 ** (top - o)) for o, p in zip(order, pix)
    ])
    assert len(fine) == len(np.unique(fine)) == hpx.npix(top)  # disjoint, total
    leaves = {(o, p) for o, ps in hips.items() for p in ps}
    assert leaves <= set(zip(order.tolist(), pix.tolist()))
    ra = RNG.uniform(0, 360, 4000)
    dec = np.degrees(np.arcsin(RNG.uniform(-1, 1, 4000)))
    # and rows near the fine leaves, where the complement is finest
    r5, d5 = hpx.pix2ang(5, np.array([(700 + 4) * 16 + 3, 9000, 9001]))
    ra = np.concatenate([ra, np.repeat(r5, 300) + RNG.normal(0, 2, 900)]) % 360
    dec = np.clip(np.concatenate([dec, np.repeat(d5, 300) + RNG.normal(0, 2, 900)]), -89, 89)
    at = {o: hpx.ang2pix(o, ra, dec) for o in range(top + 1)}
    cell = {(int(o), int(p)): int(t) for o, p, t in zip(order, pix, target)}
    got = []
    for i in range(len(ra)):
        inside = [cell[(o, int(at[o][i]))] for o in range(top + 1) if (o, int(at[o][i])) in cell]
        assert len(inside) == 1
        got.append((inside[0], int(at[inside[0]][i])))
    want = _expected_leaf(hips, 4, ra, dec)
    assert got == want
    assert {o for o, _ in want} >= {1, 3, 4, 5, 6}


@pytest.fixture(scope="module")
def rebalanced(spark, tmp_path_factory):
    """Half the sky with a hotspot, ingested at order_k=4 and then
    rebalanced, so leaves finer than order_k cover the hotspot and leave
    holes in its order-4 pixels."""
    base = pd.concat([_sky(1500, 0, 180), _clump(1500, 45, 10, 0.2, 1500)], ignore_index=True)
    cat = partition_catalog(
        spark.createDataFrame(base), str(tmp_path_factory.mktemp("app") / "c"), "c",
        ra_col="ra", dec_col="dec", id_col="sid", threshold=600, order_k=4,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        cat = cat.rebalance()
    assert max(cat.meta.hips) > cat.meta.order_k
    return base, cat


def test_append_places_every_row_by_the_order_k_rule(spark, rebalanced):
    base, cat = rebalanced
    hips, order_k = cat.meta.hips, cat.meta.order_k
    resent = base.iloc[1400:1460].copy()  # re-sent ids, moved
    resent["ra"] = (resent["ra"] + 0.5) % 360
    batch = pd.concat([
        _sky(200, 0, 180, 10_000),           # covered, coarse leaves
        _sky(200, 180, 360, 20_000),         # outside the coverage
        _clump(400, 45, 10, 2.5, 30_000),    # fine leaves and their holes
        _clump(700, 100, -30, 0.05, 40_000),  # pushes a cell over the threshold
        resent,
    ], ignore_index=True)
    want = dict(zip(batch["sid"], _expected_leaf(hips, order_k, batch["ra"], batch["dec"])))
    opened = {leaf for leaf in want.values() if leaf[1] not in hips.get(leaf[0], [])}
    # the batch exercises every branch of the rule
    assert any(o == order_k for o, _ in opened)
    assert any(o > order_k for o, _ in opened)
    assert any(o > order_k for o, _ in set(want.values()) - opened)

    with pytest.warns(UserWarning, match="exceed pix_threshold"):
        out = cat.append(spark.createDataFrame(batch))

    rows = out.df().select("sid", "ra", "dec", "Norder", "Npix").toPandas()
    assert rows["sid"].is_unique
    true_rows = len(set(base["sid"]) | set(batch["sid"]))
    assert out.meta.n_sources == len(rows) == true_rows
    got = rows.set_index("sid").loc[batch["sid"]]
    assert list(zip(got["Norder"], got["Npix"])) == [want[s] for s in batch["sid"]]
    moved = got.loc[resent["sid"]]
    assert np.allclose(moved["ra"].to_numpy(), resent["ra"].to_numpy())
    leaves = [(o, p) for o, ps in out.meta.hips.items() for p in ps]
    for o1, p1 in leaves:  # no new leaf overlaps an old one
        for o2, p2 in leaves:
            assert not (o1 < o2 and p2 >> (2 * (o2 - o1)) == p1), ((o1, p1), (o2, p2))
    assert out.fsck()["consistent"]


def test_append_rejects_rows_without_coordinates(spark, rebalanced):
    _, cat = rebalanced
    batch = _sky(5, 0, 180, 90_000)
    batch.loc[2, "dec"] = np.nan
    frame = spark.createDataFrame(batch).selectExpr(
        "sid", "ra", "CASE WHEN isnan(dec) THEN NULL ELSE dec END AS dec")
    version = cat._head().meta.version
    with pytest.raises(Exception, match="NULL ra/dec"):
        cat.append(frame)
    assert cat._head().meta.version == version


# -- plans ------------------------------------------------------------------


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _executions_of(spark, fn):
    """Run ``fn``; return its result and, for each SQL execution it
    started, the ``(name, description)`` of every node of the plan
    graph (cached plans included) and the Python-evaluated row count
    of each distinct ``ArrowEvalPython`` node."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        return {int(e.executionId()) for e in _seq(store.executionsList())}

    before = ids()
    out = fn()
    runs = []
    for eid in sorted(ids() - before):
        values = store.executionMetrics(eid)
        nodes, python_rows = [], {}
        for n in _seq(store.planGraph(eid).allNodes()):
            nodes.append((n.name(), n.desc()))
            if n.name() == "ArrowEvalPython":
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and not v.isEmpty():
                        python_rows[m.accumulatorId()] = int(v.get().replace(",", ""))
        runs.append((nodes, python_rows))
    return out, runs


def _count(nodes, name, text=""):
    return sum(1 for n, d in nodes if n == name and text in d)


def test_append_is_one_probe_join_and_one_recount(spark, rebalanced):
    """The batch is pixelized once (Python sees each row once), placed
    by one explode and one inner broadcast join, and cached after the
    placement: no cache of the raw batch, no anti-join to find
    uncovered rows, no sort-merge join.  Three SQL executions: the
    per-cell collect, the write (whose only other join is the broadcast
    anti-join that replaces re-sent ids) and the recount, which reads
    no data column."""
    _, cat = rebalanced
    batch = pd.concat([_sky(300, 0, 360, 50_000), _clump(200, 45, 10, 2.5, 60_000)])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        _, runs = _executions_of(spark, lambda: cat.append(spark.createDataFrame(batch)))

    assert len(runs) == 3, [[n for n, _ in nodes] for nodes, _ in runs]
    (place, place_py), (write, write_py), (recount, recount_py) = runs
    assert sum(place_py.values()) == len(batch)
    assert sum(write_py.values()) == sum(recount_py.values()) == 0
    assert _count(place, "ArrowEvalPython") == 1
    assert _count(place, "Generate", "explode") == 1
    assert _count(place, "BroadcastHashJoin", "Inner") == 1
    assert _count(place, "BroadcastHashJoin") == 1
    for nodes in (place, write):
        # every cached relation read holds the placed batch: one probe
        # join under each cache scan
        assert _count(nodes, "InMemoryTableScan") == _count(nodes, "BroadcastHashJoin", "_probe#")
    for nodes, _ in runs:
        assert _count(nodes, "SortMergeJoin") == 0
        assert _count(nodes, "BroadcastHashJoin", "LeftSemi") == 0
    assert _count(place, "BroadcastHashJoin", "LeftAnti") == 0
    # the write's joins: the cached probe joins and the replacement of
    # re-sent ids (one per union branch of the touched cells' read)
    assert _count(write, "BroadcastHashJoin", "LeftAnti") >= 1
    assert _count(write, "BroadcastHashJoin") == (
        _count(write, "BroadcastHashJoin", "_probe#") + _count(write, "BroadcastHashJoin", "LeftAnti")
    )
    scans = [d for _, d in recount if d.startswith("FileScan parquet")]
    assert scans and all("ReadSchema: struct<>" in d for d in scans), scans


def test_catalog_writes_sort_once(spark, tmp_path):
    """The rank window's sort on (Norder, Dir, Npix, pix@19, ra, dec)
    is the partitioned writer's ordering: ingest and append writes hold
    one Sort and one Window, and rows within each file keep _ID order."""
    pdf = pd.concat([_sky(3000, 0, 180), _clump(1000, 45, 10, 0.5, 3000)], ignore_index=True)
    cat, runs = _executions_of(spark, lambda: partition_catalog(
        spark.createDataFrame(pdf), str(tmp_path / "s"), "s",
        ra_col="ra", dec_col="dec", id_col="sid", threshold=800, order_k=5,
    ))
    writes = [nodes for nodes, _ in runs if _count(nodes, "WriteFiles")]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        cat, runs = _executions_of(spark, lambda: cat.append(
            spark.createDataFrame(_clump(500, 45, 10, 0.5, 10_000))))
    writes += [nodes for nodes, _ in runs if _count(nodes, "WriteFiles")]
    assert len(writes) == 2
    for nodes in writes:
        assert _count(nodes, "Sort") == 1, nodes
        assert _count(nodes, "Window") == 1, nodes

    import pyarrow.parquet as pq

    for (o, p), names in cat.meta.files.items():
        for name in names:
            ids = pq.read_table(f"{cat._leaf_dir(o, p)}/{name}", columns=["_ID"])["_ID"].to_numpy()
            assert (np.diff(ids) > 0).all(), (o, p, name)
