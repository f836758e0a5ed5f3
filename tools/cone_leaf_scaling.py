"""Cone-search, wide-append and cross-match cost against catalog leaf
count.

Builds two catalogs from the same seeded synthetic NumPy sky (uniform
background plus a dense Gaussian blob), one at about 150 leaves and one
at about 2,000, by lowering the ingest ``threshold``; then runs the same
seeded cone queries against both and prints, per catalog, the median
CPU and wall time per cone and the Spark jobs per cone.  Two readers
are measured on each catalog:

- ``cone_search``: reads only the files the metadata lists for the
  leaves the cover hits (the leaf directories, in catalogs whose
  metadata names no files), with the schema stored in the metadata;
- ``root_scan``: the same pruning and distance predicates over a
  fresh root-discovery read of the catalog with the stored schema, so
  every query lists every leaf under the catalog root.

Before the cones, each catalog reports the size of its metadata JSON
and, over fresh handles, the cost of ``Catalog.load`` and of the
handle's first ``df()`` (the relation every later ``df()``, cross-match
and view projects; Spark resolves its files when it is built).

Each catalog then takes two appends, each to a fresh copy of the
catalog ``APPEND_REPS`` times after one warm-up (median CPU, wall and
jobs per append, plus the number of existing leaves the batch
touches): a wide one, a uniform all-sky batch that touches most of its
leaves, and a narrow one, ``NARROW_ROWS`` rows in one field of
``NARROW_RADIUS_DEG`` (one night's field, as the benchmark's ingest
workload appends).

The margin export's driver-side planning
(``margins.margin_candidate_entries`` over the catalog's leaves) is
timed too: median CPU of this Python process over ``MARGIN_REPS``
runs, with the ring entries (per ring order) and boundary samples it
broadcasts.  So is a whole ``Catalog.export_margins()``, on a fresh
copy of the catalog ``MARGIN_REPS`` times after one warm-up (median
CPU, wall and jobs, and the halo rows it writes).

Last, freshly loaded handles of each catalog and of a partner catalog
(``PARTNER_ROWS`` rows near survey rows, ingested at the same
threshold) run the same k = 2 cross-match twice in a row.  For each
pass the report gives CPU, wall time and Spark jobs of building the
lazy plan (``plan_*``) and of the whole operation (plan and collect).
A handle lists its catalog once, so the plan cost of the second pass
shows what a repeated cross-match pays for listings.

The survey is also cross-matched against a deep field of
``FIELD_RADIUS_DEG`` around ``FIELD_CENTRE`` (the survey rows there,
moved, plus ``FIELD_ROWS`` more, ingested at the same threshold), on
handles whose reads are pinned, once after one warm-up: the join cells,
the files each side's scan reads (one per leaf: each catalog is one
ingest), the Spark jobs and tasks, and CPU and wall time.

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
NARROW_ROWS = 1_000
NARROW_CENTRE = (200.0, 30.0)
NARROW_RADIUS_DEG = 1.0
MARGIN_REPS = 3
MARGIN_DEG = 0.1
PARTNER_ROWS = 40_000
XMATCH_K = 2
XMATCH_DTHRESH_DEG = 0.01
FIELD_CENTRE = (200.0, 30.0)
FIELD_RADIUS_DEG = 3.0
FIELD_ROWS = 2_000


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


def measure_handle(spark, meter, name, path, reps: int = 5) -> dict:
    """Metadata size; CPU, wall and jobs of ``Catalog.load`` and of the
    first ``df()`` of the loaded handle, over ``reps`` fresh handles
    after one warm-up."""
    from lsd2_spark.catalog import Catalog

    load, first = [], []
    for rep in range(reps + 1):
        cat, *lc = timed(spark, meter, f"{name}-load-{rep}",
                         lambda: Catalog.load(spark, path, "sky"))
        _, *dc = timed(spark, meter, f"{name}-df-{rep}", cat.df)
        if rep:
            load.append(lc)
            first.append(dc)
    return {
        "meta_bytes": os.path.getsize(os.path.join(path, "sky_meta.json")),
        "load": summary(*zip(*load)),
        "first_df": summary(*zip(*first)),
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


def disc(rng: np.random.Generator, first_id: int, n: int, centre, radius: float):
    """``n`` rows uniform in a disc of ``radius`` deg around ``centre``,
    with ids from ``first_id``."""
    import pandas as pd

    ra0, dec0 = centre
    r = radius * np.sqrt(rng.uniform(0, 1, n))
    t = rng.uniform(0, 2 * np.pi, n)
    dec = dec0 + r * np.sin(t)
    return pd.DataFrame({
        "sid": np.arange(first_id, first_id + n, dtype=np.int64),
        "ra": (ra0 + r * np.cos(t) / np.cos(np.radians(dec))) % 360.0,
        "dec": dec,
        "mag": rng.uniform(10, 22, n),
    })


def narrow_field(rng: np.random.Generator, first_id: int):
    """``NARROW_ROWS`` rows in a disc of ``NARROW_RADIUS_DEG`` around
    ``NARROW_CENTRE`` (one night's field)."""
    return disc(rng, first_id, NARROW_ROWS, NARROW_CENTRE, NARROW_RADIUS_DEG)


def deep_field(rng: np.random.Generator, pdf):
    """The survey rows within ``FIELD_RADIUS_DEG`` of ``FIELD_CENTRE``,
    moved by under 0.005 deg, and ``FIELD_ROWS`` more rows in the disc."""
    import pandas as pd

    from lsd2_spark.healpix import gc_dist_deg

    near = pdf[gc_dist_deg(pdf.ra.values, pdf.dec.values, *FIELD_CENTRE) < FIELD_RADIUS_DEG].copy()
    near["sid"] += 20 * ROWS
    near["dec"] += rng.uniform(-0.005, 0.005, len(near))
    more = disc(rng, 30 * ROWS, FIELD_ROWS, FIELD_CENTRE, FIELD_RADIUS_DEG)
    return pd.concat([near, more], ignore_index=True)


def measure_margin_plan(hips: dict) -> dict:
    """CPU of ``margin_candidate_entries`` in this process, and the
    size of the table it plans."""
    import warnings

    from lsd2_spark.operators.margins import margin_candidate_entries

    cpu = []
    for _ in range(MARGIN_REPS):
        c0 = time.process_time()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            entries = margin_candidate_entries(hips, MARGIN_DEG)
        cpu.append(time.process_time() - c0)
    return {
        "cpu_ms_p50": round(1e3 * statistics.median(cpu), 1),
        "entries": sum(len(t["ring_pix"]) for t in entries.values()),
        "ring_orders": {kf: len(t["ring_pix"]) for kf, t in sorted(entries.items())},
        "samples": sum(len(t["_b_ra"].values) for t in entries.values()),
    }


def measure_margin_export(spark, meter, name, path, warmup: int = 1) -> dict:
    """A whole ``export_margins()`` on ``warmup + MARGIN_REPS`` fresh
    copies of the catalog at ``path``, which has no export."""
    import warnings

    from lsd2_spark.catalog import Catalog

    cpu, wall, jobs = [], [], []
    copy = f"{path}_margins"
    for rep in range(warmup + MARGIN_REPS):
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(path, copy)
        cat = Catalog.load(spark, copy, "sky")
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # leaves near the margin scale
            cat, c, w, j = timed(spark, meter, f"{name}-{rep}", cat.export_margins)
        if rep >= warmup:
            cpu.append(c)
            wall.append(w)
            jobs.append(j)
    rows = cat.margin_df().count()
    shutil.rmtree(copy, ignore_errors=True)
    return {**summary(cpu, wall, jobs), "halo_rows": rows}


def partner_of(rng: np.random.Generator, pdf):
    """``PARTNER_ROWS`` survey rows moved by under 0.005 deg, with new ids."""
    part = pdf.sample(n=PARTNER_ROWS, random_state=int(rng.integers(1 << 31))).copy()
    part["sid"] = np.arange(len(part), dtype=np.int64) + 10 * ROWS
    part["ra"] = (part["ra"] + rng.uniform(-0.005, 0.005, len(part))) % 360.0
    part["dec"] = np.clip(part["dec"] + rng.uniform(-0.005, 0.005, len(part)), -90, 90)
    return part


def measure_xmatch(spark, meter, name, path, partner_path) -> list:
    """Two consecutive cross-matches on the same freshly loaded handles."""
    from lsd2_spark.catalog import Catalog

    cat = Catalog.load(spark, path, "sky")
    other = Catalog.load(spark, partner_path, "partner")
    passes = []
    for rep in range(2):
        lazy, pc, pw, pj = timed(
            spark, meter, f"{name}-plan-{rep}",
            lambda: cat.cross_match(other, n_neighbors=XMATCH_K, dthresh=XMATCH_DTHRESH_DEG),
        )
        rows, c, w, j = timed(spark, meter, f"{name}-run-{rep}", lazy.collect)
        passes.append({
            "plan_cpu_ms": round(1e3 * pc, 1), "plan_wall_ms": round(1e3 * pw, 1),
            "plan_jobs": pj, "cpu_ms": round(1e3 * (pc + c), 1),
            "wall_ms": round(1e3 * (pw + w), 1), "jobs": pj + j, "pairs": len(rows),
        })
    return passes


def files_read(df) -> dict[str, int]:
    """Catalog root → the "number of files read" metric of its scans in
    the executed (final adaptive) plan of the collected ``df``."""
    out: dict[str, int] = {}

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


def measure_field_xmatch(spark, meter, name, path, field_path) -> dict:
    """The survey (left) against the deep field (right), on pinned
    handles, after one warm-up."""
    from lsd2_spark.catalog import Catalog
    from lsd2_spark.operators.crossmatch import crossmatch_cells_plan, max_cell_order_for

    cat = Catalog.load(spark, path, "sky")
    field = Catalog.load(spark, field_path, "field")
    cat.df(), field.df()
    tracker = spark.sparkContext.statusTracker()
    for rep in range(2):
        group = f"{name}-{rep}"
        lazy, pc, pw, pj = timed(
            spark, meter, f"{group}-plan",
            lambda: cat.cross_match(field, n_neighbors=XMATCH_K, dthresh=XMATCH_DTHRESH_DEG),
        )
        rows, c, w, j = timed(spark, meter, group, lazy.collect)
    tasks = sum(
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    )
    read = files_read(lazy)
    return {
        "cells": len(crossmatch_cells_plan(
            cat.meta.hips, field.meta.hips, max_cell_order_for(XMATCH_DTHRESH_DEG)
        )),
        "left_leaves": sum(len(v) for v in cat.meta.hips.values()),
        "left_files_read": read.get(f"file:{os.path.abspath(path)}/catalog", 0),
        "right_leaves": sum(len(v) for v in field.meta.hips.values()),
        "right_files_read": read.get(f"file:{os.path.abspath(field_path)}/catalog", 0),
        "jobs": pj + j, "tasks": tasks,
        "cpu_ms": round(1e3 * (pc + c), 1), "wall_ms": round(1e3 * (pw + w), 1),
        "pairs": len(rows),
    }


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
    partner = partner_of(rng, pdf)
    narrow = narrow_field(rng, 2 * ROWS)
    field = deep_field(rng, pdf)
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
            root = f"{cat.path}/catalog"
            df = (
                spark.read.schema(cat.meta.schema).option("basePath", root).parquet(root)
                .filter(F.lit(False) if pred is None else pred)
            )
            dist = gc_dist(F.col("ra"), F.col("dec"), q[0], q[1])
            return df.withColumn("_DIST", dist).filter(F.col("_DIST") < q[2]).collect()

        report[label] = {
            "threshold": threshold,
            "leaves": sum(len(v) for v in cat.meta.hips.values()),
            "orders": sorted(cat.meta.hips),
            "ingest_s": round(ingest_s, 1),
            "handle": measure_handle(spark, meter, f"handle-{threshold}", path),
            "cone_search": measure_cones(spark, meter, f"cone-{threshold}", leaf_read, qs),
            "root_scan": measure_cones(spark, meter, f"root-{threshold}", root_scan, qs),
            "append_leaves_touched": leaves_touched(cat.meta.hips, batch),
            "append": measure_append(spark, meter, f"append-{threshold}", path, batch),
            "narrow_append_leaves_touched": leaves_touched(cat.meta.hips, narrow),
            "narrow_append": measure_append(spark, meter, f"narrow-{threshold}", path, narrow),
            "margin_plan": measure_margin_plan(cat.meta.hips),
            "margin_export": measure_margin_export(spark, meter, f"margins-{threshold}", path),
        }
        partner_path = os.path.join(args.work, f"p{threshold}")
        partition_catalog(
            spark.createDataFrame(partner), partner_path, "partner", ra_col="ra",
            dec_col="dec", id_col="sid", threshold=threshold, order_k=9,
            write_margins=False,
        )
        report[label]["xmatch"] = measure_xmatch(
            spark, meter, f"xmatch-{threshold}", path, partner_path
        )
        field_path = os.path.join(args.work, f"f{threshold}")
        partition_catalog(
            spark.createDataFrame(field), field_path, "field", ra_col="ra",
            dec_col="dec", id_col="sid", threshold=threshold, order_k=9,
            write_margins=False,
        )
        report[label]["field_xmatch"] = measure_field_xmatch(
            spark, meter, f"field-{threshold}", path, field_path
        )
        same = report[label]["cone_search"]["rows"] == report[label]["root_scan"]["rows"]
        print(label, json.dumps(report[label]), "same rows:", same, flush=True)
    print(json.dumps({"rows": ROWS, "queries": len(qs), "seed": SEED,
                      "append_rows": APPEND_ROWS, "narrow_rows": NARROW_ROWS,
                      "partner_rows": PARTNER_ROWS, "field_rows": len(field),
                      "load_end": os.getloadavg(),
                      "catalogs": report}))
    spark.stop()
    meter.stop()


if __name__ == "__main__":
    main()
