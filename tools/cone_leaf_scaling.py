"""Cone-search and wide-append cost against catalog leaf count.

Builds two catalogs from the same seeded synthetic NumPy sky (uniform
background plus a dense Gaussian blob), one at about 150 leaves and one
at about 2,000, by lowering the ingest ``threshold``; then runs the same
seeded cone queries against both and prints, per catalog, the median
CPU and wall time per cone and the Spark jobs per cone.  Two readers
are measured on each catalog:

- ``cone_search``: reads only the leaf directories the cover hits, with
  the schema stored in the metadata;
- ``root_scan``: the same pruning and distance predicates over
  ``Catalog.df()``, which discovers every leaf under the catalog root.

Each catalog then takes a wide append: a uniform all-sky batch that
touches most of its leaves, appended to a fresh copy of the catalog
``APPEND_REPS`` times (median CPU, wall and jobs per append, plus the
number of existing leaves the batch touches).

CPU is user+system time of this process and all its descendants (the
Spark JVM and the Python workers), from ``perfbench.run.CpuMeter``,
which keeps the CPU of workers that exit.  Everything is local; no
network.

Usage (from the repository root):

    python tools/cone_leaf_scaling.py [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from run import CpuMeter  # noqa: E402

ROWS = 100_000
QUERIES = 40
SEED = 1
# thresholds giving 159 and 2,007 leaves for ROWS rows at SEED
THRESHOLDS = {"~150 leaves": 1400, "~2k leaves": 94}
APPEND_ROWS = 20_000
APPEND_REPS = 3


def sky(rng: np.random.Generator, n: int):
    import pandas as pd

    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    m = n // 3
    ra[:m] = 120.0 + rng.normal(0, 4.0, m)
    dec[:m] = -20.0 + rng.normal(0, 4.0, m)
    return pd.DataFrame(
        {
            "sid": np.arange(n, dtype=np.int64),
            "ra": ra % 360.0,
            "dec": np.clip(dec, -90, 90),
            "mag": rng.uniform(10, 22, n),
        }
    )


def queries(rng: np.random.Generator, pdf, n: int):
    """Radii log-uniform in 0.01-5 deg; 70% of centres on sources."""
    out = []
    for _ in range(n):
        r = float(10 ** rng.uniform(-2, np.log10(5)))
        if rng.random() < 0.7:
            i = int(rng.integers(len(pdf)))
            out.append((float(pdf.ra.iat[i]), float(pdf.dec.iat[i]), r))
        else:
            out.append(
                (float(rng.uniform(0, 360)),
                 float(np.degrees(np.arcsin(rng.uniform(-1, 1)))), r)
            )
    return out


def timed(spark, meter: CpuMeter, group: str, fn):
    """Run ``fn()`` under a Spark job group; return its result, CPU
    seconds, wall seconds and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    c0, t0 = meter.read(), time.perf_counter()
    out = fn()
    wall, cpu = time.perf_counter() - t0, meter.read() - c0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out, cpu, wall, len(sc.statusTracker().getJobIdsForGroup(group))


def summary(cpu: list, wall: list, jobs: list) -> dict:
    return {
        "cpu_ms_p50": round(1e3 * statistics.median(cpu), 1),
        "wall_ms_p50": round(1e3 * statistics.median(wall), 1),
        "jobs_mean": round(statistics.fmean(jobs), 2),
        "jobs_max": max(jobs),
    }


def measure_cones(spark, meter, name, run_one, qs, warmup: int = 5) -> dict:
    for q in qs[:warmup]:
        run_one(q)
    cpu, wall, jobs, rows = [], [], [], 0
    for i, q in enumerate(qs):
        out, c, w, j = timed(spark, meter, f"{name}-{i}", lambda q=q: run_one(q))
        rows += len(out)
        cpu.append(c)
        wall.append(w)
        jobs.append(j)
    return {**summary(cpu, wall, jobs), "rows": rows}


def leaves_touched(hips: dict, batch) -> int:
    """Existing leaves holding at least one row of ``batch``."""
    from lsd2_spark.healpix import ang2pix

    return sum(
        len(set(ang2pix(int(o), batch.ra.values, batch.dec.values).tolist())
            & set(pixs))
        for o, pixs in hips.items()
    )


def measure_append(spark, meter, name, path, batch, warmup: int = 1) -> dict:
    """Append ``batch`` to ``warmup + APPEND_REPS`` fresh copies of the
    catalog at ``path``."""
    import warnings

    from lsd2_spark.catalog import Catalog

    cpu, wall, jobs = [], [], []
    for rep in range(warmup + APPEND_REPS):
        copy = f"{path}_append"
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(path, copy)
        cat = Catalog.load(spark, copy, "sky")
        frame = spark.createDataFrame(batch)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # cells over threshold: expected
            _, c, w, j = timed(spark, meter, f"{name}-{rep}",
                               lambda: cat.append(frame))
        if rep >= warmup:
            cpu.append(c)
            wall.append(w)
            jobs.append(j)
    shutil.rmtree(copy, ignore_errors=True)
    return summary(cpu, wall, jobs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--work", default=os.path.join(".bench_work", "cone_leaf_scaling"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lsd2_spark import get_spark
    from lsd2_spark.catalog import partition_catalog
    from lsd2_spark.functions.spherical import gc_dist

    meter = CpuMeter()
    meter.start()
    spark = get_spark(app_name="cone_leaf_scaling")
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(SEED)
    pdf = sky(rng, ROWS)
    qs = queries(rng, pdf, QUERIES)
    batch = pdf.iloc[ROWS // 3:ROWS // 3 + APPEND_ROWS].copy()  # uniform rows
    batch["sid"] += ROWS
    shutil.rmtree(args.work, ignore_errors=True)

    report = {}
    for label, threshold in THRESHOLDS.items():
        path = os.path.join(args.work, f"t{threshold}")
        t0 = time.perf_counter()
        cat = partition_catalog(
            spark.createDataFrame(pdf), path, "sky", ra_col="ra", dec_col="dec",
            id_col="sid", threshold=threshold, order_k=9, write_margins=False,
        )
        ingest_s = time.perf_counter() - t0

        def leaf_read(q, cat=cat):
            return cat.cone_search(*q).collect()

        def root_scan(q, cat=cat):
            pred = cat.cone_pruning_predicate(*q)
            df = cat.df().filter(F.lit(False) if pred is None else pred)
            dist = gc_dist(F.col("ra"), F.col("dec"), q[0], q[1])
            return df.withColumn("_DIST", dist).filter(F.col("_DIST") < q[2]).collect()

        report[label] = {
            "threshold": threshold,
            "leaves": sum(len(v) for v in cat.meta.hips.values()),
            "orders": sorted(cat.meta.hips),
            "ingest_s": round(ingest_s, 1),
            "cone_search": measure_cones(spark, meter, f"cone-{threshold}", leaf_read, qs),
            "root_scan": measure_cones(spark, meter, f"root-{threshold}", root_scan, qs),
            "append_leaves_touched": leaves_touched(cat.meta.hips, batch),
            "append": measure_append(spark, meter, f"append-{threshold}", path, batch),
        }
        same = report[label]["cone_search"]["rows"] == report[label]["root_scan"]["rows"]
        print(label, json.dumps(report[label]), "same rows:", same, flush=True)
    print(json.dumps({"rows": ROWS, "queries": len(qs), "seed": SEED,
                      "append_rows": APPEND_ROWS, "load_end": os.getloadavg(),
                      "catalogs": report}))
    spark.stop()
    meter.stop()


if __name__ == "__main__":
    main()
