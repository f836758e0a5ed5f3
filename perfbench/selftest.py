#!/usr/bin/env python3
"""Self-test of the benchmark's input generator and oracles on the tiny
profile; needs no Spark and takes a few seconds.

    python3 perfbench/selftest.py

Checks that one seed gives byte-identical inputs, that the sky has the
density structure the workloads rely on, and that every oracle accepts a
right answer and rejects a wrong one (a dropped, duplicated or extra
row; a leaf over the threshold; a wrong source count).
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import workloads


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def test_determinism(tmp: str) -> None:
    a = gen.generate_sky(7, os.path.join(tmp, "a"), gen.TINY)
    b = gen.generate_sky(7, os.path.join(tmp, "b"), gen.TINY)
    c = gen.generate_sky(8, os.path.join(tmp, "c"), gen.TINY)
    for k in ("survey", "partner"):
        expect(filecmp.cmp(a[k], b[k], shallow=False), f"{k}: same seed, different bytes")
        expect(not filecmp.cmp(a[k], c[k], shallow=False), f"{k}: seeds 7 and 8 agree")
    surv = pq.read_table(a["survey"])
    na = gen.generate_night(7, surv, os.path.join(tmp, "na"), gen.TINY)
    nb = gen.generate_night(7, surv, os.path.join(tmp, "nb"), gen.TINY)
    expect(len(na) == gen.TINY.night_batches, "night batch count")
    for x, y in zip(na, nb):
        expect(filecmp.cmp(x, y, shallow=False), "night: same seed, different bytes")
    expect(gen.cone_queries(7, surv, 50) == gen.cone_queries(7, surv, 50), "cone queries differ")


def test_sky(tmp: str) -> None:
    p = gen.generate_sky(3, os.path.join(tmp, "sky"), gen.TINY)
    s, q = pq.read_table(p["survey"]), pq.read_table(p["partner"])
    ra, dec = s.column("ra").to_numpy(), s.column("dec").to_numpy()
    expect(s.num_rows == gen.TINY.survey_rows, "survey rows")
    expect(len(np.unique(s.column("id").to_numpy())) == s.num_rows, "survey ids unique")
    expect(not gen.in_empty_region(ra, dec).any(), "a source inside an empty region")
    expect(not gen.in_empty_region(q.column("ra").to_numpy(), q.column("dec").to_numpy()).any(),
           "a partner source inside an empty region")
    expect((q.column("dec").to_numpy() > gen.PARTNER_DEC_MIN).all(), "partner outside its half")
    # the galactic band is denser than the all-sky mean
    gal_pole = gen.radec_to_vec(192.85948, 27.12825)
    b = np.degrees(np.arcsin(gen.radec_to_vec(ra, dec) @ gal_pole))
    in_band = np.abs(b) < 5.0
    expect(in_band.mean() > 3 * np.sin(np.radians(5.0)), "no galactic band")
    # planted matches: at least the planted share of partner rows has a survey match
    pairs, _ = oracle.knn_pairs(oracle.Positions.of(q), oracle.Positions.of(s), 1, 0.01)
    expect(len(pairs) >= gen.PLANT_FRAC * q.num_rows * 0.99, "planted matches missing")


def test_cone_oracle() -> None:
    rng = np.random.default_rng(0)
    ra, dec = gen.uniform_sphere(rng, 5000)
    ids = np.arange(5000) * 3
    pos = oracle.Positions(ids, ra, dec)
    for qra, qdec, r in [(10.0, 20.0, 5.0), (300.0, -89.0, 3.0), (0.1, 0.0, 12.0)]:
        want, edge = pos.cone(qra, qdec, r)
        naive = set(ids[gen.gc_dist_deg(ra, dec, qra, qdec) < r].tolist())
        expect(want == naive, "dec-band index changes the cone answer")
        got = sorted(want)
        expect(oracle.same_set(got, want, edge), "right answer rejected")
        expect(not oracle.same_set(got[1:], want, edge), "dropped row accepted")
        expect(not oracle.same_set(got + got[:1], want, edge), "duplicated row accepted")
        expect(not oracle.same_set(got + [-1], want, edge), "extra row accepted")


def test_knn_oracle() -> None:
    rng = np.random.default_rng(1)
    lra, ldec = rng.uniform(10, 11, 400), rng.uniform(10, 11, 400)
    rra, rdec = rng.uniform(10, 11, 600), rng.uniform(10, 11, 600)
    left = oracle.Positions(np.arange(400), lra, ldec)
    right = oracle.Positions(np.arange(600) + 1000, rra, rdec)
    got, edge = oracle.knn_pairs(left, right, 2, 0.05)
    want = set()
    for i in range(400):
        d = gen.gc_dist_deg(lra[i], ldec[i], rra, rdec)
        near = sorted((d[j], 1000 + j) for j in np.nonzero(d < 0.05)[0])[:2]
        want |= {(i, rid) for _, rid in near}
    expect(got == want, "grid k-NN differs from the all-pairs scan")
    expect(len(want) > 100, "k-NN test set too sparse")
    pairs = sorted(got)
    expect(not oracle.same_set(pairs[1:], got, edge), "dropped pair accepted")


def _fake_catalog(root: str, table: pa.Table, n_sources: int, threshold: int) -> None:
    """A hive layout like the engine's, leaves assigned by id (the
    oracle checks ids, counts and leaf membership, not geometry)."""
    npix = (table.column("id").to_numpy() % 48).astype(np.int64)
    for p in np.unique(npix):
        d = os.path.join(root, "catalog", "Norder=1", "Dir=0", f"Npix={p}")
        os.makedirs(d)
        pq.write_table(table.filter(pa.array(npix == p)), os.path.join(d, "part-0.parquet"))
    with open(os.path.join(root, "survey_meta.json"), "w") as f:
        json.dump({"n_sources": n_sources, "pix_threshold": threshold,
                   "hips": {"1": list(range(48))}}, f)


def test_catalog_oracle(tmp: str) -> None:
    src = gen.generate_sky(5, os.path.join(tmp, "cat_in"), gen.TINY, with_partner=False)["survey"]
    t = pq.read_table(src)
    n = t.num_rows
    cases = {
        "good": (t, n, 1000, True),
        "dropped row": (t.slice(1), n, 1000, False),
        "duplicated row": (pa.concat_tables([t, t.slice(0, 1)]), n, 1000, False),
        "leaf over threshold": (t, n, 50, False),
        "wrong n_sources": (t, n + 1, 1000, False),
    }
    for name, (table, n_sources, threshold, ok) in cases.items():
        root = os.path.join(tmp, name.replace(" ", "_"))
        _fake_catalog(root, table, n_sources, threshold)
        errs = oracle.check_catalog(root, "survey", [src], threshold)
        expect((not errs) == ok, f"catalog oracle, {name}: {errs}")
    # an append may overfill the leaves it lands in, and only those
    k = 200
    batch = pa.table({"id": np.arange(k, dtype=np.int64) * 48 + 48_000_005,
                      "ra": np.zeros(k), "dec": np.zeros(k), "mag": np.zeros(k)})
    batch_path = os.path.join(tmp, "batch.parquet")
    pq.write_table(batch, batch_path)
    root = os.path.join(tmp, "appended")
    _fake_catalog(root, pa.concat_tables([t, batch]), n + k, 0)
    threshold = max(v for (_, p), v in oracle.leaf_counts(root).items() if p != 5)
    inputs = [src, batch_path]
    expect(not oracle.check_catalog(root, "survey", inputs, threshold, appended=batch_path),
           "overfill by the append rejected")
    expect(bool(oracle.check_catalog(root, "survey", inputs, threshold)),
           "overfilled leaf accepted without an append")
    expect(bool(oracle.check_catalog(root, "survey", inputs, threshold - 1, appended=batch_path)),
           "leaves overfilled outside the append accepted")


def test_benchmark_json() -> None:
    """BENCHMARK.json names exactly the metrics and units the runs print."""
    import layers
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, units in (("end_to_end", run.UNITS), ("per_layer", layers.UNITS)):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        expect(listed == units, f"BENCHMARK.json {key} differs from the printed metrics")
    expect(sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS),
           "BENCHMARK.json workloads differ from workloads.py")


def main() -> int:
    work = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        for test in (test_determinism, test_sky, test_catalog_oracle):
            test(os.path.join(tmp, test.__name__))
            print(f"ok  {test.__name__}")
    for test in (test_cone_oracle, test_knn_oracle, test_benchmark_json):
        test()
        print(f"ok  {test.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
