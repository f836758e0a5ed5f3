"""Per-layer metrics from the traced run.

:func:`install` wraps the public functions of each ``lsd2_spark`` layer
(and the pyspark actions every layer ends in) with spans;
:func:`per_layer` turns the spans of the traced operations into the
numbers listed in README.md, each with the end-to-end metric it should
move.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import numpy as np

import oracle

# every per-layer metric with its unit, in BENCHMARK.json order
UNITS = {
    "catalog.df_ms": "ms",
    "catalog.df_calls_per_op": "count",
    "catalog.cone_plan_ms": "ms",
    "catalog.leaves_selected_frac": "ratio",
    "catalog.rows_scanned_per_hit": "rows/hit",
    "catalog.partition_catalog_self_s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written": "B",
    "catalog.max_leaf_fill": "ratio",
    "catalog.leaves": "count",
    "catalog.append_s": "s",
    "catalog.append_cells_touched": "count",
    "catalog.append_bytes_rewritten_per_row": "B/row",
    "healpix.cone_cover_ms": "ms",
    "plans.partition_map_s": "s",
    "plans.align_cells_s": "s",
    "margins.write_s": "s",
    "margins.rows_per_source": "ratio",
    "crossmatch.plan_s": "s",
    "crossmatch.exec_s": "s",
    "crossmatch.cells": "count",
    "crossmatch.max_cell_work": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_ms": "ms",
    "driver.py_cpu_ms_per_op": "ms",
    "trace.overhead_frac": "ratio",
    "trace.self_frac": "ratio",
}


def _note_hips(tracer, args, kwargs, result):
    tracer.current().data["hips"] = args[0].meta.hips


def _note_cover(tracer, args, kwargs, result):
    tracer.current().data["cover"] = (int(args[0]), np.asarray(result))


def _note_cells(tracer, args, kwargs, result):
    span = tracer.current()
    span.counts["cells"] = len(result)
    span.data["cells"] = list(result)


def install(tracer) -> None:
    import lsd2_spark.catalog as lcat
    from lsd2_spark import healpix
    from lsd2_spark.operators import crossmatch, margins
    from lsd2_spark.plans import partition_map
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    cat = lcat.Catalog
    tracer.wrap(cat, "df", "catalog.df")
    tracer.wrap(cat, "cone_search", "catalog.cone_search")
    tracer.wrap(cat, "cone_pruning_predicate", "catalog.cone_plan", on_result=_note_hips)
    tracer.wrap(cat, "append", "catalog.append")
    tracer.wrap(lcat, "partition_catalog", "catalog.partition_catalog")
    tracer.wrap(healpix, "cone_cover", "healpix.cone_cover", on_result=_note_cover)
    tracer.wrap(partition_map, "compute_partition_map", "plans.partition_map")
    tracer.wrap(crossmatch, "crossmatch_cells_plan", "plans.align_cells", on_result=_note_cells)
    tracer.wrap(crossmatch, "crossmatch_catalogs", "crossmatch.plan")
    tracer.wrap(margins, "write_margin_dataset", "margins.write")
    tracer.wrap(margins, "margin_rows", "margins.rows")
    tracer.wrap(DataFrame, "collect", "spark.action")
    tracer.wrap(DataFrame, "count", "spark.action")
    tracer.wrap(DataFrameWriter, "parquet", "spark.action")


def _mean(xs, scale=1.0) -> float | None:
    xs = list(xs)
    return statistics.fmean(xs) * scale if xs else None


def per_layer(wl, tracer, ops, untraced) -> dict[str, tuple[float | None, str]]:
    """Metric name -> (value, unit) for the traced operations ``ops``;
    ``untraced`` are the same operations run without spans.  The value
    is None where the workload never calls the layer."""
    n = len(ops)
    spans = tracer.spans  # every span is recorded inside a traced operation
    by = defaultdict(list)
    kids = defaultdict(list)
    for s in spans:
        by[s.name].append(s)
        kids[s.parent].append(s)

    def dur(name, scale=1.0):
        return _mean((s.dur for s in by[name]), scale)

    # cone planning: leaves kept per query, rows scanned per result row
    fracs, scanned, hits = [], 0, 0
    for op in ops:
        plans = sorted((s for s in by["catalog.cone_plan"] if s.op == op.index), key=lambda s: s.t0)
        leaf_rows = op.extra.get("leaf_rows") or wl.leaf_rows()
        for plan, n_hit in zip(plans, wl.cone_hits(op)):
            hips = plan.data["hips"]
            sel = []
            for c in kids[plan.sid]:
                if "cover" in c.data:
                    o, cover = c.data["cover"]
                    sel += [(o, int(p)) for p in np.intersect1d(cover, np.asarray(hips[o]))]
            fracs.append(len(sel) / sum(len(v) for v in hips.values()))
            scanned += sum(leaf_rows.get(k, 0) for k in sel)
            hits += n_hit

    cat_dir, cat_name = wl.catalog_dir()
    with open(os.path.join(cat_dir, f"{cat_name}_meta.json")) as f:
        meta = json.load(f)
    leaves = oracle.leaf_counts(cat_dir)
    margin_rows = sum(oracle.leaf_counts(cat_dir, "neighbor").values()) \
        if os.path.isdir(os.path.join(cat_dir, "neighbor")) else 0
    appended = sum(o.extra.get("appended_rows", 0) for o in ops)
    cells = by["plans.align_cells"]

    by_id = {s.sid: s for s in spans}

    def top_level_actions(op):
        """Time in engine actions not nested in another action."""
        total = 0.0
        for s in by["spark.action"]:
            p = by_id.get(s.parent)
            while p is not None and p.name != "spark.action":
                p = by_id.get(p.parent)
            if s.op == op.index and p is None:
                total += s.dur
        return total

    traced = sum(o.latency for o in ops)
    plain = sum(o.latency for o in untraced)
    values = {
        "catalog.df_ms": dur("catalog.df", 1e3),
        "catalog.df_calls_per_op": len(by["catalog.df"]) / n,
        "catalog.cone_plan_ms": dur("catalog.cone_plan", 1e3),
        "catalog.leaves_selected_frac": _mean(fracs),
        "catalog.rows_scanned_per_hit": scanned / hits if hits else None,
        "catalog.partition_catalog_self_s":
            _mean(tracer.self_time(s) for s in by["catalog.partition_catalog"]),
        "catalog.files_written": _mean(o.extra["files_written"] for o in ops
                                       if "files_written" in o.extra),
        "catalog.bytes_written": _mean(o.extra["bytes_written"] for o in ops
                                       if "bytes_written" in o.extra),
        "catalog.max_leaf_fill": max(leaves.values()) / meta["pix_threshold"],
        "catalog.leaves": sum(len(v) for v in meta["hips"].values()),
        "catalog.append_s": dur("catalog.append"),
        "catalog.append_cells_touched":
            _mean(o.extra["cells_touched"] for o in ops if "cells_touched" in o.extra),
        "catalog.append_bytes_rewritten_per_row":
            sum(o.extra.get("bytes_rewritten", 0) for o in ops) / appended if appended else None,
        "healpix.cone_cover_ms":
            sum(s.dur for s in by["healpix.cone_cover"]) * 1e3 / len(by["catalog.cone_plan"])
            if by["catalog.cone_plan"] else None,
        "plans.partition_map_s": dur("plans.partition_map"),
        "plans.align_cells_s": dur("plans.align_cells"),
        "margins.write_s": dur("margins.write"),
        "margins.rows_per_source": margin_rows / sum(leaves.values()),
        "crossmatch.plan_s": dur("crossmatch.plan"),
        "crossmatch.exec_s":
            _mean(o.t1 - o.extra["plan_done"] for o in ops if "plan_done" in o.extra),
        "crossmatch.cells": _mean(s.counts["cells"] for s in cells),
        "crossmatch.max_cell_work":
            float(wl.max_cell_work(cells[0].data["cells"])) if cells else None,
        "spark.jobs_per_op": _mean(o.jobs for o in ops),
        "spark.tasks_per_op": _mean(o.tasks for o in ops),
        "spark.exec_ms": _mean((top_level_actions(o) for o in ops), 1e3),
        "driver.py_cpu_ms_per_op": _mean((o.cpu for o in ops), 1e3),
        "trace.overhead_frac": traced / plain - 1.0,
        "trace.self_frac": tracer.own_s / traced,
    }
    return {k: (values[k], unit) for k, unit in UNITS.items()}
