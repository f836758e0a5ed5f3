"""Benchmark harness — runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-query time = full plan execution to a count() action (forces scans,
shuffles, kernels; result sets are small so collection cost is noise).
Catalog ingest + pruned cone search run against a temp dir to exercise
the write path and partition pruning end-to-end.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_supplier_volume",
    "q06_revenue_forecast",
    "q07_window_topk",
    "q11_events_hourly",
    "q12_sessionize",
    "q15_asof_join",
    "q20_cone_search",
    "q21_crossmatch_knn",
    "q30_dedup_variants",
    "q31_signatures",
    "q32_neardup_pairs",
    "q36_doc_profile",
    "q40_embedding_knn",
    "q41_ivf_topk",
    "q45_embedding_neardup",
    "q61_text_hygiene",
    "q63_decontaminate",
    "q64_pack_sequences",
    "q67_line_dedup",
    "q68_dsir_score",
    "q69_fuzzy_decontam",
    "q70_clean_text",
    "q71_html_text",
    "q72_bm25_topk",
    "q73_lm_score",
]


REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def main() -> None:
    from lsd2_spark import get_spark
    from lsd2_spark.queries import all_queries

    # The bench contract is exactly ONE JSON line on stdout, but JVM
    # unified-logging warnings ("[gc,alloc] ... GCLocker") write to
    # fd 1 directly, bypassing Python (observed corrupting the
    # artifact at sf0.1; -Xlog redirection did not take in local
    # mode).  Move the REAL stdout aside at the OS level before the
    # JVM starts — everything the session prints lands on stderr, and
    # only the final JSON line is written to the saved fd.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    spark = get_spark(app_name="lsd2_bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    load_start = os.getloadavg()

    # JIT/codegen warm-up outside the timings
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    # Load-calibration reference workloads (VERDICT r12 #3): two fixed,
    # package-independent Spark jobs whose code never changes round-
    # over-round — a CPU-bound whole-stage-codegen scan and a small
    # shuffle.  Their walls move ONLY with machine load, so dividing a
    # heavyweight's min-wall by the calibration min-wall cancels box
    # load: round-over-round, normalized drift on untouched code reads
    # "box was busy", raw-but-not-normalized drift reads "code got
    # slower".  (r11→r12 saw +27-38% on q41/q68 with zero code change
    # on their paths and no way to attribute it.)
    from pyspark.sql import functions as F

    def _cal_cpu() -> float:
        t0 = time.perf_counter()
        # bit_xor, not sum: ANSI mode overflows a long sum of 2^63-
        # range hashes (same lesson as the probe checksums)
        spark.range(100_000_000).select(
            F.expr("bit_xor(xxhash64(id))")
        ).collect()
        return time.perf_counter() - t0

    def _cal_shuffle() -> float:
        t0 = time.perf_counter()
        (
            spark.range(8_000_000)
            .groupBy((F.col("id") % 4096).alias("k"))
            .count()
            .count()
        )
        return time.perf_counter() - t0

    cal_cpu_runs: list[float] = []
    cal_shuffle_runs: list[float] = []

    # Per-query MEDIAN of REPEATS runs — a single sample is at the mercy
    # of machine load (BENCH_r02 recorded a uniform +12-63% drift on
    # untouched queries from exactly that).  One calibration sample per
    # repeat, interleaved so it sees the same load window the queries do.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(REPEATS):
        cal_cpu_runs.append(_cal_cpu())
        cal_shuffle_runs.append(_cal_shuffle())
        for name in HEADLINE:
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).count()
            samples[name].append(time.perf_counter() - t0)
    times: dict[str, float] = {
        name: round(sorted(ts)[len(ts) // 2], 3) for name, ts in samples.items()
    }
    # min-of-repeats alongside the median: the min is far more robust to
    # background machine load (BENCH_r08's driver run regressed 23% from
    # loadavg alone), so round-over-round comparisons should read it
    times_min: dict[str, float] = {
        name: round(min(ts), 3) for name, ts in samples.items()
    }

    # IVF search with a PREBUILT index — the number that matters at
    # 100 TB is search latency against a standing index, not the
    # index build that q41_ivf_topk includes on every call.
    from pyspark.sql import functions as F

    from lsd2_spark.operators import similarity
    from lsd2_spark.queries.similarity import (
        IVF_ITERS,
        IVF_LISTS,
        IVF_PROBE,
        KNN_K,
        QUERY_STRIDE,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvecs = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    cents = similarity.kmeans_centroids(
        emb, "embedding", "vec_id", n_lists=IVF_LISTS, n_iters=IVF_ITERS
    )
    search_samples = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        similarity.ivf_topk(
            emb, qvecs, "embedding", "vec_id",
            k=KNN_K, n_lists=IVF_LISTS, nprobe=IVF_PROBE, centroids=cents,
        ).count()
        search_samples.append(time.perf_counter() - t0)
    times["q41_ivf_search_only"] = round(
        sorted(search_samples)[len(search_samples) // 2], 3
    )
    times_min["q41_ivf_search_only"] = round(min(search_samples), 3)

    # catalog path: density-adaptive ingest + pruned cone search
    from lsd2_spark.catalog import partition_catalog
    from lsd2_spark.queries.spatial import derive_dec, derive_ra

    tmp = tempfile.mkdtemp(prefix="lsd2_bench_")
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            F.col("l_orderkey").alias("sid"),
            derive_ra(F.col("l_orderkey")).alias("ra"),
            derive_dec(F.col("l_orderkey")).alias("dec"),
        )
        # min-of-REPEATS like every other row (measurement fix, r13):
        # the single-shot ingest number mixed 3-7 s of first-run
        # JIT/codegen warm-up into the one timing the driver reads
        # (isolated: 12.2 -> 7.3 -> 5.1 s across three fresh-dir
        # ingests in one session) while every query row reports a
        # warmed min — the compact line's stat field said min_of_N
        # either way.  The first (cold) run is kept in the detail
        # sidecar as catalog_path_runs for round-over-round
        # comparison with the old single-shot numbers.
        ingest_samples, cone_samples = [], []
        cat = None
        for i in range(REPEATS):
            cdir = f"{tmp}/cat" if i == 0 else f"{tmp}/cat_rerun{i}"
            t0 = time.perf_counter()
            cat_i = partition_catalog(
                li, cdir, "bench", ra_col="ra", dec_col="dec", id_col="sid",
                threshold=50_000, order_k=6, write_margins=False,
            )
            ingest_samples.append(time.perf_counter() - t0)
            if i == 0:
                cat = cat_i  # downstream (cone, streaming copies) uses run 0
            else:
                shutil.rmtree(cdir, ignore_errors=True)
            t0 = time.perf_counter()
            cat.cone_search(45.0, 10.0, 10.0).count()
            cone_samples.append(time.perf_counter() - t0)
        times["catalog_ingest"] = round(
            sorted(ingest_samples)[len(ingest_samples) // 2], 3
        )
        times_min["catalog_ingest"] = round(min(ingest_samples), 3)
        times["catalog_cone_pruned"] = round(
            sorted(cone_samples)[len(cone_samples) // 2], 3
        )
        times_min["catalog_cone_pruned"] = round(min(cone_samples), 3)
        catalog_path_runs = {
            "ingest_sec_runs": [round(x, 3) for x in ingest_samples],
            "cone_sec_runs": [round(x, 3) for x in cone_samples],
        }

        # streaming ingest throughput: micro-batched foreachBatch append
        # into the standing catalog (exactly-once path), reported as
        # rows/s so streaming regressions are visible like batch ones
        from lsd2_spark.streaming import events as sev

        ev = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .filter(F.col("event_id") % 10 == 0)
            .select(
                (F.col("event_id") + F.lit(1_000_000_000_000)).alias("sid"),
                derive_ra(F.col("event_id")).alias("ra"),
                derive_dec(F.col("event_id")).alias("dec"),
            )
        )
        inbox = f"{tmp}/inbox"
        ev.repartition(4).write.mode("overwrite").parquet(inbox)
        n_stream_rows = ev.count()
        # multi-run streaming (VERDICT r9 item 6): the single-run
        # number drifted 1,411 -> 1,353 rows/s across rounds on load
        # noise alone.  wall_sec/rows_per_sec report the MEDIAN run;
        # min_rows_per_sec is the load-robust min-of-repeats number
        # (see the comment at the report dict below).
        # Each run streams into its OWN copy of
        # the standing catalog with a fresh checkpoint — the
        # exactly-once high-water mark is per-catalog, so reruns
        # re-ingest instead of no-opping.
        from lsd2_spark.catalog import Catalog

        stream_walls, stream_append_secs = [], []
        for i in range(3):
            rdir = f"{tmp}/scat{i}"
            shutil.copytree(f"{tmp}/cat", rdir)
            scat = Catalog.load(spark, rdir, "bench")
            stream = (
                spark.readStream.schema("sid long, ra double, dec double")
                .option("maxFilesPerTrigger", 2)
                .parquet(f"{inbox}/*.parquet")
            )
            writer = sev.stream_into_catalog(stream, scat)
            t0 = time.perf_counter()
            writer.run_available(f"{tmp}/ckpt{i}")
            stream_walls.append(time.perf_counter() - t0)
            # catalog-side work is append + any auto rebalance the
            # writer ran; summing both keeps the overhead split honest
            # if a benched writer ever enables it (today's default
            # leaves rebalance_sec at 0)
            stream_append_secs.append(
                round(
                    sum(
                        b["append_sec"] + b.get("rebalance_sec", 0.0)
                        for b in writer.batch_stats
                    ),
                    3,
                )
            )
        stream_dt = sorted(stream_walls)[len(stream_walls) // 2]
        # reported under "streaming", NOT summed into the headline
        # total, so round-over-round totals stay comparable with the
        # pre-streaming-bench rounds.  min_rows_per_sec is the
        # best-run throughput (rows / min wall) — the load-robust
        # number round-over-round comparisons should read.
        streaming = {
            "rows": int(n_stream_rows),
            "micro_batches": 2,
            "runs": len(stream_walls),
            "wall_sec_runs": [round(x, 3) for x in stream_walls],
            "wall_sec": round(stream_dt, 3),
            "rows_per_sec": round(n_stream_rows / stream_dt, 1),
            "min_rows_per_sec": round(n_stream_rows / min(stream_walls), 1),
            # per-run catalog-append wall vs total: the remainder is
            # Structured Streaming scheduling/IO overhead — the split
            # that makes round-over-round drift attributable (code
            # cost moves append_sec; machine noise moves both)
            "append_sec_runs": stream_append_secs,
            "overhead_sec_runs": [
                round(w - a, 3)
                for w, a in zip(stream_walls, stream_append_secs)
            ],
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # 10x crossmatch scale probe (VERDICT r6 item 8): replicate the q21
    # inputs 10x with deterministic jitter so cell-pairing skew and the
    # kernel's behavior under a 10x density step show up in a committed
    # artifact before anyone runs this at 100x.  Stage timings separate
    # "plan" (cell assignment + pair planning, the driver-side risk)
    # from the full kernel execution.
    x10 = {}
    try:
        import lsd2_spark.healpix as hpx
        from lsd2_spark.operators.crossmatch import crossmatch_dataframes
        from lsd2_spark.queries.spatial import (
            XMATCH_DTHRESH,
            XMATCH_K,
            _XMATCH_ORDER,
        )

        def replicate(df, id_col):
            rep = spark.range(10).select(F.col("id").alias("_rep"))
            return df.crossJoin(F.broadcast(rep)).select(
                (F.col(id_col) * 10 + F.col("_rep")).alias(id_col),
                # ~0.5 arcsec deterministic jitter per replica keeps the
                # sky density 10x without creating exact-duplicate coords
                ((F.col("ra") + F.col("_rep") * 0.00013) % 360.0).alias("ra"),
                F.least(
                    F.lit(89.99),
                    F.greatest(
                        F.lit(-89.99), F.col("dec") + F.col("_rep") * 0.00011
                    ),
                ).alias("dec"),
            )

        left10 = replicate(
            spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
                F.col("c_custkey").alias("left_id"),
                derive_ra(F.col("c_custkey")).alias("ra"),
                derive_dec(F.col("c_custkey")).alias("dec"),
            ),
            "left_id",
        )
        right10 = replicate(
            spark.read.parquet(f"{SF_DIR}/part.parquet").select(
                F.col("p_partkey").alias("right_id"),
                derive_ra(F.col("p_partkey")).alias("ra"),
                derive_dec(F.col("p_partkey")).alias("dec"),
            ),
            "right_id",
        )
        n_l, n_r = left10.count(), right10.count()
        full_sky = {_XMATCH_ORDER: list(range(hpx.npix(_XMATCH_ORDER)))}

        t0 = time.perf_counter()
        out10 = crossmatch_dataframes(
            left10, right10, full_sky, full_sky,
            l_ra="ra", l_dec="dec", l_id="left_id",
            r_ra="ra", r_dec="dec", r_id="right_id",
            n_neighbors=XMATCH_K, dthresh=XMATCH_DTHRESH,
            left_name="l", right_name="r",
        )
        plan_dt = time.perf_counter() - t0  # driver-side planning only
        t0 = time.perf_counter()
        n_pairs = out10.count()
        exec_dt = time.perf_counter() - t0
        x10 = {
            "left_rows": int(n_l),
            "right_rows": int(n_r),
            "pairs": int(n_pairs),
            "plan_sec": round(plan_dt, 3),
            "exec_sec": round(exec_dt, 3),
        }
    except Exception as e:  # never let the probe break the artifact
        x10 = {"error": str(e)[:200]}

    # crossmatch SKEW probe (VERDICT r11 #8): crossmatch_x10 scales
    # density uniformly; the adversarial case is ONE dense cell (the
    # globular-cluster shape).  The cogroup kernel is one pandas task
    # per cell — NOT AQE-splittable — so the structural mitigation is
    # the COVERAGE MAP: planning the dense region at a finer order
    # splits the hot cell into up to 4^Δorder kernel tasks (the
    # density-adaptive ingest partition map produces exactly such maps;
    # max_cell_order_for(dthresh) caps how fine the plan may go).
    # This probe plants a blob with ~50x the uniform per-cell density
    # in one order-2 cell and measures the same match under (a) the
    # uniform coarse map and (b) a map refined to order 4 under the
    # hot cell only — the committed evidence that the adaptive map is
    # the skew lever.
    xskew = {}
    try:
        import lsd2_spark.healpix as hpx
        from lsd2_spark.operators.crossmatch import (
            crossmatch_dataframes,
            max_cell_order_for,
        )
        from lsd2_spark.queries.spatial import (
            XMATCH_DTHRESH,
            XMATCH_K,
            _XMATCH_ORDER,
        )

        left_u = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
            F.col("c_custkey").alias("left_id"),
            derive_ra(F.col("c_custkey")).alias("ra"),
            derive_dec(F.col("c_custkey")).alias("dec"),
        )
        right_u = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
            F.col("p_partkey").alias("right_id"),
            derive_ra(F.col("p_partkey")).alias("ra"),
            derive_dec(F.col("p_partkey")).alias("dec"),
        )
        n_l = left_u.count()
        import numpy as _np

        hot_pix = int(hpx.ang2pix(_XMATCH_ORDER, _np.array([45.0]),
                                  _np.array([10.0]))[0])
        # center the blob on the PIXEL center (not an arbitrary point)
        # and keep the signed hash jitter within ±2.5° so the dense
        # mass stays inside the one ~15°-wide order-2 cell the probe
        # exists to stress — spillover into neighbors would dilute the
        # adversarial shape and understate the refined-map lever
        hot_ra = float(hpx.pix2ang(_XMATCH_ORDER, _np.array([hot_pix]))[0][0])
        hot_dec = float(hpx.pix2ang(_XMATCH_ORDER, _np.array([hot_pix]))[1][0])
        # ~50x the uniform per-cell population
        n_blob = max(50 * n_l // hpx.npix(_XMATCH_ORDER), 500)

        def blob(id_base):
            return spark.range(n_blob).select(
                (F.col("id") + id_base).alias("bid"),
                (F.lit(hot_ra) + (F.hash(F.col("id")) % 1000) / 400.0
                 ).alias("ra"),
                (F.lit(hot_dec) + (F.hash(F.col("id") + 7) % 1000) / 400.0
                 ).alias("dec"),
            )

        left_s = left_u.unionByName(
            blob(2_000_000_000).withColumnRenamed("bid", "left_id")
        )
        right_s = right_u.unionByName(
            blob(3_000_000_000).withColumnRenamed("bid", "right_id")
        )
        coarse = {_XMATCH_ORDER: list(range(hpx.npix(_XMATCH_ORDER)))}
        fine_order = min(_XMATCH_ORDER + 2, max_cell_order_for(XMATCH_DTHRESH))
        d_ord = fine_order - _XMATCH_ORDER
        refined = {
            _XMATCH_ORDER: [
                p for p in range(hpx.npix(_XMATCH_ORDER)) if p != hot_pix
            ],
            fine_order: list(
                range(hot_pix << (2 * d_ord), (hot_pix + 1) << (2 * d_ord))
            ),
        }

        def run(cov):
            # MIN of 2 trials per arm: a shared long-lived bench JVM
            # showed 6x run-to-run swing on the refined arm (GC /
            # Python-worker state), which read as "the lever stopped
            # working" — the min is the number the lever claim needs
            walls = []
            n = chk = None
            for _ in range(2):
                t0 = time.perf_counter()
                out = crossmatch_dataframes(
                    left_s, right_s, cov, cov,
                    l_ra="ra", l_dec="dec", l_id="left_id",
                    r_ra="ra", r_dec="dec", r_id="right_id",
                    n_neighbors=XMATCH_K, dthresh=XMATCH_DTHRESH,
                    left_name="l", right_name="r",
                )
                # ONE action: count + an order-independent checksum of
                # the (left_id, right_id) PAIR SET — a refinement
                # defect that swaps which neighbors are emitted while
                # keeping the count identical must not pass as "equal
                # results".  bit_xor, not sum: ANSI mode overflows a
                # long sum of 2^63-range hashes, and xor is order-
                # independent without it
                row = out.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr(
                        "bit_xor(xxhash64(l_left_id, r_right_id))"
                    ).alias("chk"),
                ).first()
                walls.append(round(time.perf_counter() - t0, 3))
                assert n is None or (n, chk) == (int(row["n"]), row["chk"])
                n, chk = int(row["n"]), row["chk"]
            return min(walls), n, chk

        coarse_sec, coarse_pairs, coarse_chk = run(coarse)
        refined_sec, refined_pairs, refined_chk = run(refined)

        # AUTO refinement (VERDICT r12 #5): nobody hand-refines at
        # 100 TB — refine_hot_cells derives the same split from the
        # plan-sized density histograms.  Bound: 100x the uniform
        # per-cell pair product, so only genuinely hot cells split.
        from lsd2_spark.operators.histogram import sky_histogram
        from lsd2_spark.plans.partition_map import refine_hot_cells

        def hist(df):
            rows = sky_histogram(df, "ra", "dec", fine_order).collect()
            return (
                _np.array([r["pix"] for r in rows], dtype=_np.int64),
                _np.array([r["cnt"] for r in rows], dtype=_np.int64),
            )

        t0 = time.perf_counter()
        (kp_l, ct_l), (kp_r, ct_r) = hist(left_s), hist(right_s)
        ncells = hpx.npix(_XMATCH_ORDER)
        bound = 100.0 * (float(ct_l.sum()) / ncells) * (
            float(ct_r.sum()) / ncells
        )
        auto_cov = refine_hot_cells(
            coarse, kp_l, ct_l, kp_r, ct_r,
            order_k=fine_order,
            max_pairs_per_cell=bound,
            max_cell_order=fine_order,
        )
        auto_plan_sec = round(time.perf_counter() - t0, 3)
        auto_sec, auto_pairs, auto_chk = run(auto_cov)

        xskew = {
            "blob_rows_per_side": int(n_blob),
            "hot_pix_order": _XMATCH_ORDER,
            "refined_to_order": fine_order,
            "coarse_sec": coarse_sec,
            "refined_sec": refined_sec,
            "refined_speedup": round(coarse_sec / max(refined_sec, 1e-9), 2),
            "pairs_equal": (coarse_pairs == refined_pairs)
            and (coarse_chk == refined_chk),
            "pairs": coarse_pairs,
            # auto ≈ hand-refined is the claim; the plan cost (two
            # histograms + driver split) is reported so its overhead
            # at 100 TB is arguable from data
            "auto_plan_sec": auto_plan_sec,
            "auto_sec": auto_sec,
            "auto_speedup": round(coarse_sec / max(auto_sec, 1e-9), 2),
            "auto_cells": sum(len(v) for v in auto_cov.values()),
            "auto_split_orders": sorted(auto_cov),
            "auto_pairs_equal": (coarse_pairs == auto_pairs)
            and (coarse_chk == auto_chk),
        }
    except Exception as e:  # never let the probe break the artifact
        xskew = {"error": str(e)[:200]}

    # 10x density probes for the dedup/ANN heavyweights (VERDICT r7
    # item 5): replicate the inputs 10x with a per-replica text/vector
    # transform that PRESERVES each replica's internal duplicate
    # structure while decorrelating replicas from each other (vowels ->
    # replica digit for text — identical docs stay identical within a
    # replica; cyclic coordinate shift for embeddings — an orthogonal
    # map, so within-replica cosines are exactly preserved; replicas
    # may still cross-match where the operator's threshold is
    # permissive, which only makes the probe harder).  A healthy scale
    # shape is exec ratio <= ~10x (at-most-linear in corpus size);
    # a quadratic bucket blowup shows up as a ratio far above 10x and
    # fails review before production does.
    density = {}
    try:
        from lsd2_spark.operators import dedup as ddp
        from lsd2_spark.operators import similarity as simm
        from lsd2_spark.queries.similarity import NEARDUP_THRESHOLD
        from lsd2_spark.queries.text import (
            _CC_STEPS,
            _CC_THRESHOLD,
            _HAM_MAX,
            _Q66_BITS,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        repl = spark.range(10).select(F.col("id").alias("_rep"))
        docs10 = docs.crossJoin(F.broadcast(repl)).select(
            (F.col("doc_id") * 10 + F.col("_rep")).alias("doc_id"),
            F.regexp_replace(
                F.col("text"), F.lit("[aeiou]"), F.col("_rep").cast("string")
            ).alias("text"),
        )
        dim = len(emb.select("embedding").first()["embedding"])
        emb10 = emb.crossJoin(F.broadcast(repl)).select(
            (F.col("vec_id") * 10 + F.col("_rep")).alias("vec_id"),
            F.when(F.col("_rep") == 0, F.col("embedding"))
            .otherwise(
                F.concat(
                    F.slice(
                        F.col("embedding"),
                        F.col("_rep") + 1,
                        F.lit(dim) - F.col("_rep"),
                    ),
                    F.slice(F.col("embedding"), 1, F.col("_rep")),
                )
            )
            .alias("embedding"),
        )

        def probe(name, base_fn, x10_fn, base_cands=None, x10_cands=None):
            t0 = time.perf_counter()
            base_out = base_fn()
            base_dt = time.perf_counter() - t0
            t0 = time.perf_counter()
            x10_out = x10_fn()
            x10_dt = time.perf_counter() - t0
            density[name] = {
                "base_sec": round(base_dt, 3),
                "x10_sec": round(x10_dt, 3),
                "exec_ratio": round(x10_dt / max(base_dt, 1e-9), 2),
                "base_out_rows": int(base_out),
                "x10_out_rows": int(x10_out),
            }
            # candidate (band-collision) volume, not output pairs, is
            # the quantity that degrades first at scale — VERDICT r8 #2
            if base_cands is not None:
                density[name]["base_cand_rows"] = int(base_cands())
                density[name]["x10_cand_rows"] = int(x10_cands())
                density[name]["cand_ratio"] = round(
                    density[name]["x10_cand_rows"]
                    / max(density[name]["base_cand_rows"], 1),
                    2,
                )

        probe(
            "lsh_pairs_x10",
            lambda: ddp.lsh_candidate_pairs(docs, "text", "doc_id").count(),
            lambda: ddp.lsh_candidate_pairs(docs10, "text", "doc_id").count(),
        )
        probe(
            "dedup_clusters_x10",
            lambda: ddp.dedup_clusters(
                docs, "text", "doc_id",
                min_jaccard=_CC_THRESHOLD, n_steps=_CC_STEPS,
            ).count(),
            lambda: ddp.dedup_clusters(
                docs10, "text", "doc_id",
                min_jaccard=_CC_THRESHOLD, n_steps=_CC_STEPS,
            ).count(),
        )
        probe(
            "simhash_neardup_x10",
            lambda: ddp.hamming_neardup_pairs(
                ddp.simhash(docs, "text", "doc_id", bits=_Q66_BITS),
                "doc_id", "simhash", bits=_Q66_BITS, max_hamming=_HAM_MAX,
            ).count(),
            lambda: ddp.hamming_neardup_pairs(
                ddp.simhash(docs10, "text", "doc_id", bits=_Q66_BITS),
                "doc_id", "simhash", bits=_Q66_BITS, max_hamming=_HAM_MAX,
            ).count(),
            base_cands=lambda: ddp.hamming_band_candidates(
                ddp.simhash(docs, "text", "doc_id", bits=_Q66_BITS),
                "doc_id", "simhash", bits=_Q66_BITS, max_hamming=_HAM_MAX,
            ).count(),
            x10_cands=lambda: ddp.hamming_band_candidates(
                ddp.simhash(docs10, "text", "doc_id", bits=_Q66_BITS),
                "doc_id", "simhash", bits=_Q66_BITS, max_hamming=_HAM_MAX,
            ).count(),
        )
        # production-bits twin: the gate row uses 16-bit simhash for SQL
        # oracle tractability, which saturates (3 bands of 5-6 bits =
        # 32-64 values) and drives the fixed-config probe's superlinear
        # candidates; at the operator's production default (60-bit,
        # 7 bands of 8-9 bits) the same 10x densification measures
        # ~3.4x exec with candidates tracking pairs
        probe(
            "simhash_neardup_x10_60bit",
            lambda: ddp.hamming_neardup_pairs(
                ddp.simhash(docs, "text", "doc_id", bits=60),
                "doc_id", "simhash", bits=60, max_hamming=6,
            ).count(),
            lambda: ddp.hamming_neardup_pairs(
                ddp.simhash(docs10, "text", "doc_id", bits=60),
                "doc_id", "simhash", bits=60, max_hamming=6,
            ).count(),
            base_cands=lambda: ddp.hamming_band_candidates(
                ddp.simhash(docs, "text", "doc_id", bits=60),
                "doc_id", "simhash", bits=60, max_hamming=6,
            ).count(),
            x10_cands=lambda: ddp.hamming_band_candidates(
                ddp.simhash(docs10, "text", "doc_id", bits=60),
                "doc_id", "simhash", bits=60, max_hamming=6,
            ).count(),
        )
        probe(
            "embedding_neardup_x10",
            lambda: simm.embedding_neardup_pairs(
                emb, "embedding", "vec_id",
                threshold=NEARDUP_THRESHOLD, n_bits=4, n_tables=16,
            ).count(),
            lambda: simm.embedding_neardup_pairs(
                emb10, "embedding", "vec_id",
                threshold=NEARDUP_THRESHOLD, n_bits=4, n_tables=16,
            ).count(),
            base_cands=lambda: simm.embedding_neardup_candidates(
                emb, "embedding", "vec_id", n_bits=4, n_tables=16
            ).count(),
            x10_cands=lambda: simm.embedding_neardup_candidates(
                emb10, "embedding", "vec_id", n_bits=4, n_tables=16
            ).count(),
        )
        # the density-scaled twin: sign-LSH bucket count is 2^n_bits per
        # table, so holding per-bucket population constant under a 10x
        # corpus means n_bits + ~log2(10) ≈ +3.  The exec ratio drops
        # from ~35x to ~3x, demonstrating the fixed-config probe's wall
        # growth is a CONFIG artifact, not a plan defect — with the
        # standard LSH caveat made visible by the output counts: wider
        # bits cut recall at fixed n_tables (the full knob is the
        # (bits, tables) tradeoff curve; holding recall constant under
        # densification costs ~n^rho extra tables, sublinear but not
        # free — Indyk-Motwani).
        probe(
            "embedding_neardup_x10_scaledbits",
            lambda: simm.embedding_neardup_pairs(
                emb, "embedding", "vec_id",
                threshold=NEARDUP_THRESHOLD, n_bits=4, n_tables=16,
            ).count(),
            lambda: simm.embedding_neardup_pairs(
                emb10, "embedding", "vec_id",
                threshold=NEARDUP_THRESHOLD, n_bits=7, n_tables=16,
            ).count(),
            base_cands=lambda: simm.embedding_neardup_candidates(
                emb, "embedding", "vec_id", n_bits=4, n_tables=16
            ).count(),
            x10_cands=lambda: simm.embedding_neardup_candidates(
                emb10, "embedding", "vec_id", n_bits=7, n_tables=16
            ).count(),
        )
        # SemDeDup's scale rule: grow n_clusters WITH the corpus so the
        # per-cluster population (the quadratic unit) stays constant —
        # a ~linear exec ratio here certifies the rule; running 10x the
        # data into the SAME cluster count would show ~100x kernel work
        from lsd2_spark.operators import semdedup as sdd

        emb_d = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        emb10_d = emb10.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        probe(
            "semdedup_x10",
            lambda: sdd.semantic_dedup(
                emb_d, "embedding", "vec_id", n_clusters=16, eps=0.99
            ).filter("keep = 0").count(),
            lambda: sdd.semantic_dedup(
                emb10_d, "embedding", "vec_id", n_clusters=160, eps=0.99,
                assign_nprobe="auto",
            ).filter("keep = 0").count(),
        )
        # fuzzy decontamination density probe (VERDICT r9 item 5): the
        # scale axis that matters is EVAL-SET size — banding saturates
        # as the broadcast band table grows.  Candidate rows (the
        # band-collision volume, pre-exact-verify) are the degradation
        # signal, same contract as the simhash/embedding probes.
        # Output rows are one-per-train-doc by construction, so only
        # exec and candidate ratios are informative here.
        from lsd2_spark.operators import decontam as dcn

        probe(
            "fuzzy_decontam_x10",
            lambda: dcn.fuzzy_decontaminate(
                docs, docs.filter(F.col("doc_id") % 250 == 0),
                "text", "doc_id", min_jaccard=0.5,
            ).filter("fuzzy_contaminated").count(),
            lambda: dcn.fuzzy_decontaminate(
                docs, docs.filter(F.col("doc_id") % 25 == 0),
                "text", "doc_id", min_jaccard=0.5,
            ).filter("fuzzy_contaminated").count(),
            base_cands=lambda: dcn.fuzzy_decontam_candidates(
                docs, docs.filter(F.col("doc_id") % 250 == 0),
                "text", "doc_id",
            ).count(),
            x10_cands=lambda: dcn.fuzzy_decontam_candidates(
                docs, docs.filter(F.col("doc_id") % 25 == 0),
                "text", "doc_id",
            ).count(),
        )

        # composed-funnel density probe (VERDICT r10 item 3): the full
        # batch curation funnel at 1x and 10x corpus with PER-STAGE
        # drop counts, so stage-level scaling is attributable the way
        # the standalone heavyweights' cand_ratio already is.  The 10x
        # corpus is the realistic crawl-duplication shape — each doc
        # plus 9 NEAR-copies (two replica-tag tokens appended, so
        # replicas stay near-dups of each other and the language/
        # quality gates still see the original text; the dedup probes'
        # vowel transform would destroy every "the" and short-circuit
        # the whole funnel at the lang gate).  Expected shape: the
        # row-local battery is linear, fuzzy dedup (banded LSH + CC
        # fixpoint over ~10-member clusters) dominates, nothing
        # superlinear.  Eval set is drawn from each corpus's own text
        # space (a fixed benchmark suite does not scale with the
        # corpus).
        from lsd2_spark.operators.curate import curate_corpus, curation_report

        docs10_funnel = docs.crossJoin(F.broadcast(repl)).select(
            (F.col("doc_id") * 10 + F.col("_rep")).alias("doc_id"),
            F.when(F.col("_rep") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" zz"), F.col("_rep").cast("string"), F.lit("a"),
                    F.lit(" zz"), F.col("_rep").cast("string"), F.lit("b"),
                )
            )
            .alias("text"),
        )

        # stage-D (decontamination) signal at 10x (VERDICT r11 #5):
        # organic contamination victims are near-copies of each other,
        # so at 10x they merge into fuzzy clusters and die UPSTREAM —
        # the probe was certifying stage D's scaling with 2 rows.
        # Plant q74-style guaranteed victims: doc_id-unique tokens
        # (singleton fuzzy clusters -> canonical) ending in a sentinel
        # 5-gram that the eval set also contains.  doc_id % 100 == 1
        # picks ~1% of each corpus, so the planted victim count itself
        # scales 10x with the corpus (5 -> 50).
        from lsd2_spark.queries.text import _FUNNEL_SENTINEL
        probe_sentinel = _FUNNEL_SENTINEL  # the q74-proven planted eval 5-gram
        probe_text = F.concat_ws(
            " ",
            F.lit("the"),
            *[
                F.concat(F.lit("w"), F.col("doc_id").cast("string"), F.lit(ch))
                for ch in "abcdefgh"
            ],
            F.lit(probe_sentinel),
        )

        def plant_probes(d):
            probes = d.filter(F.col("doc_id") % 100 == 1).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                probe_text.alias("text"),
            )
            return d.unionByName(probes)

        def run_funnel(d):
            ev = (
                d.orderBy("doc_id").limit(50).select("text")
                .unionByName(
                    spark.createDataFrame([(probe_sentinel,)], "text string")
                )
            )
            tagged = curate_corpus(
                plant_probes(d),
                eval_df=ev,
                min_words=10,
                min_stop_words=1,
            )
            return {
                r["stage"]: int(r["docs"])
                for r in curation_report(tagged).collect()
            }

        t0 = time.perf_counter()
        funnel_1x = run_funnel(docs)
        funnel_1x_dt = time.perf_counter() - t0
        t0 = time.perf_counter()
        funnel_10x = run_funnel(docs10_funnel)
        funnel_10x_dt = time.perf_counter() - t0
        density["curation_funnel_x10"] = {
            "base_sec": round(funnel_1x_dt, 3),
            "x10_sec": round(funnel_10x_dt, 3),
            "exec_ratio": round(funnel_10x_dt / max(funnel_1x_dt, 1e-9), 2),
            "base_stages": funnel_1x,
            "x10_stages": funnel_10x,
        }

        # CC skew probe (VERDICT r11 #3): the adversarial crawl shape
        # is ONE boilerplate mega-cluster holding ~10% of the corpus
        # (the x10 funnel probe caps components at 10 members, which
        # never stresses the fixpoint).  Rewrite 10% of docs to a
        # shared 40-token template + a doc-unique slug (pairwise
        # jaccard ~0.95 — a near-CLIQUE under LSH banding), then
        # measure edge volume, FIXPOINT ROUND COUNT, and wall against
        # the uniform corpus.  Min-label propagation needs diameter
        # rounds; the claim this probe certifies (documented at
        # connected_components) is that a mega-cluster is dense, so
        # its diameter — and the round count — stays flat while only
        # per-round edge volume grows.
        boiler = " ".join(f"tpl{i:02d}" for i in range(40))

        def cc_probe(d):
            edges = ddp.lsh_candidate_pairs(d, "text", "doc_id").filter(
                F.col("jaccard_est") >= _CC_THRESHOLD
            )
            t0 = time.perf_counter()
            n_edges = edges.count()
            stats: dict = {}
            cc = ddp.connected_components(
                d.select("doc_id"), edges, "doc_id", stats=stats
            )
            biggest = (
                cc.groupBy("cluster_id")
                .count()
                .agg(F.max("count").alias("m"))
                .first()["m"]
            )
            return {
                "sec": round(time.perf_counter() - t0, 3),
                "edges": int(n_edges),
                "rounds": stats.get("rounds"),
                "converged": stats.get("converged"),
                "max_component": int(biggest or 0),
            }

        docs_mega = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat_ws(
                    " ",
                    F.lit(boiler),
                    F.concat(F.lit("slug"), F.col("doc_id").cast("string")),
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        cc_uniform, cc_mega = cc_probe(docs), cc_probe(docs_mega)
        density["cc_skew"] = {
            "uniform": cc_uniform,
            "mega_cluster_10pct": cc_mega,
            # named wall_ratio, NOT exec_ratio: the mega-cluster corpus
            # can carry FEWER edges than the uniform one (r12 measured
            # 0.9M vs 1.0M), so a bare wall quotient in the compact
            # line read as "mega-cluster is faster" without the edge
            # counts to interpret it.  The claim this probe certifies
            # is ROUNDS FLAT under the dense shape — that is the
            # scalar the compact headline carries (VERDICT r12 #7).
            "wall_ratio": round(
                cc_mega["sec"] / max(cc_uniform["sec"], 1e-9), 2
            ),
            "rounds_flat": bool(
                cc_mega.get("rounds") is not None
                and cc_uniform.get("rounds") is not None
                and cc_mega["rounds"] <= cc_uniform["rounds"] + 1
            ),
        }

        # CC CHAIN probe (VERDICT r12 #4): the binding shape for
        # min-label propagation is a LARGE-DIAMETER component — a path
        # of near-dups each similar only to its neighbors — where
        # convergence needs diameter rounds and the n_steps cap is the
        # constraint.  Edges are synthesized directly (the probe
        # certifies the FIXPOINT's rounds-vs-diameter behavior and the
        # cap's failure mode, with the diameter exactly known; LSH edge
        # generation is covered by cc_skew above).  The capped run
        # demonstrates the guard: converged=False, the RuntimeWarning
        # fires, and the under-merge is visible as n_clusters > 1.
        import warnings as _warnings

        def chain_probe(n_vertices, n_steps=50):
            verts = spark.range(n_vertices).select(F.col("id").alias("doc_id"))
            edges = spark.range(n_vertices - 1).select(
                F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
            )
            stats: dict = {}
            t0 = time.perf_counter()
            with _warnings.catch_warnings(record=True) as rec:
                _warnings.simplefilter("always")
                cc = ddp.connected_components(
                    verts, edges, "doc_id", n_steps=n_steps, stats=stats
                )
                n_clusters = cc.select("cluster_id").distinct().count()
            return {
                "diameter": n_vertices - 1,
                "rounds": stats.get("rounds"),
                "converged": stats.get("converged"),
                "n_clusters": int(n_clusters),
                "sec": round(time.perf_counter() - t0, 3),
                "cap_warned": any(
                    "round cap" in str(w.message) for w in rec
                ),
            }

        density["cc_chain"] = {
            "d6": chain_probe(7),
            "d24": chain_probe(25),
            "capped_d24_steps8": chain_probe(25, n_steps=8),
        }
    except Exception as e:  # never let the probes break the artifact
        density["error"] = str(e)[:200]

    # hierarchical-assignment recall probe (VERDICT r9 item 4): the
    # boundary-miss risk of nprobe-limited centroid assignment,
    # MEASURED instead of argued.  Plant near-duplicates (a small
    # single-coordinate perturbation — NOT identical unit vectors,
    # which can never split) into the 10x corpus, then compare each
    # nprobe's verdicts against the exact dense assignment at the same
    # k: what fraction of planted pairs land in different clusters,
    # and what fraction of exact's dup verdicts the approximation
    # still catches.  This is the data the "auto" rule (max(2, sqrt-
    # k/4)) must justify.
    semdedup_recall = {}
    try:
        from lsd2_spark.operators import semdedup as sdd2

        planted = emb10_d.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 100_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + F.when(i == 0, F.lit(0.03)).otherwise(F.lit(0.0)),
            ).alias("embedding"),
        )
        corpus = emb10_d.unionByName(planted)
        n_planted = planted.count()
        K, EPS_R = 160, 0.99

        def verdicts(nprobe):
            t0 = time.perf_counter()
            pdf = (
                sdd2.semantic_dedup(
                    corpus, "embedding", "vec_id",
                    n_clusters=K, eps=EPS_R, assign_nprobe=nprobe,
                )
                .select("vec_id", "cluster_id", "keep")
                .toPandas()
                .set_index("vec_id")
                .sort_index()
            )
            return pdf, time.perf_counter() - t0

        exact_pdf, exact_dt = verdicts(None)
        orig_ids = exact_pdf.index[exact_pdf.index < 100_000_000]
        pair_orig = [i for i in orig_ids if (i + 100_000_000) in exact_pdf.index and i % 20 == 0]
        exact_flagged = int(
            (exact_pdf.loc[[i + 100_000_000 for i in pair_orig], "keep"] == 0).sum()
        )
        semdedup_recall = {
            "n_corpus": int(len(exact_pdf)),
            "n_planted": int(n_planted),
            "k": K,
            "eps": EPS_R,
            "exact_sec": round(exact_dt, 3),
            "exact_flagged": exact_flagged,
            "per_nprobe": {},
        }
        for np_ in (1, 2, 4):
            hier_pdf, dt = verdicts(np_)
            split = sum(
                1
                for i in pair_orig
                if hier_pdf.loc[i, "cluster_id"]
                != hier_pdf.loc[i + 100_000_000, "cluster_id"]
            )
            flagged = int(
                (hier_pdf.loc[[i + 100_000_000 for i in pair_orig], "keep"] == 0).sum()
            )
            delta = float((hier_pdf["keep"] != exact_pdf["keep"]).mean())
            semdedup_recall["per_nprobe"][str(np_)] = {
                "sec": round(dt, 3),
                "pairs_split_pct": round(100.0 * split / max(len(pair_orig), 1), 2),
                "flagged": flagged,
                "recall_vs_exact": round(flagged / max(exact_flagged, 1), 4),
                "verdict_delta_pct": round(100.0 * delta, 3),
            }
    except Exception as e:  # never let the probe break the artifact
        semdedup_recall = {"error": str(e)[:200]}

    # round-7 extension operators: timed on the same tables, reported
    # under "extras" (not summed into the headline total, so
    # round-over-round totals stay comparable)
    extras = {}
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

        from lsd2_spark.operators.substring_dedup import remove_repeated_spans

        t0 = time.perf_counter()
        remove_repeated_spans(docs, "text", "doc_id", min_tokens=8).count()
        extras["substring_dedup"] = round(time.perf_counter() - t0, 3)

        from lsd2_spark.operators.dedup_index import DedupIndex

        idx_tmp = tempfile.mkdtemp(prefix="lsd2_dedupidx_")
        try:
            t0 = time.perf_counter()
            idx = DedupIndex.build(docs, "text", "doc_id", f"{idx_tmp}/idx")
            extras["dedup_index_build"] = round(time.perf_counter() - t0, 3)
            probe_batch = docs.withColumn(
                "doc_id", F.col("doc_id") + 10_000_000
            )
            t0 = time.perf_counter()
            idx.probe(probe_batch).count()
            extras["dedup_index_probe"] = round(time.perf_counter() - t0, 3)
            # typical-case probe (VERDICT r7 item 4): the batch above is
            # the adversarial worst case — every doc exact-hits the whole
            # index and every band collides.  A production batch is
            # mostly novel; 95% of this one is vowel-rewritten (shares no
            # shingles with the index), 5% replays indexed text.
            typical_batch = docs.select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"),
                F.when(F.col("doc_id") % 20 == 0, F.col("text"))
                .otherwise(F.regexp_replace(F.col("text"), "[aeiou]", "9"))
                .alias("text"),
            )
            t0 = time.perf_counter()
            idx.probe(typical_batch).count()
            extras["dedup_index_probe_typical"] = round(
                time.perf_counter() - t0, 3
            )
        finally:
            shutil.rmtree(idx_tmp, ignore_errors=True)

        from lsd2_spark.operators.pq import pq_encode, pq_topk, train_pq

        t0 = time.perf_counter()
        books = train_pq(emb, "embedding", "vec_id", m=8, n_codes=16, n_iters=2)
        extras["pq_train"] = round(time.perf_counter() - t0, 3)
        enc = pq_encode(emb, "embedding", "vec_id", books)
        enc.cache().count()
        pq_q = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        t0 = time.perf_counter()
        pq_topk(enc, pq_q, "embedding", "vec_id", books, k=KNN_K).count()
        extras["pq_search"] = round(time.perf_counter() - t0, 3)
        enc.unpersist()

        # round-8 extension operators
        from lsd2_spark.operators.line_dedup import remove_frequent_lines

        t0 = time.perf_counter()
        remove_frequent_lines(docs, "text", "doc_id", min_docs=5).count()
        extras["line_dedup"] = round(time.perf_counter() - t0, 3)

        from lsd2_spark.operators.semdedup import semantic_dedup

        t0 = time.perf_counter()
        semantic_dedup(
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
            "embedding",
            "vec_id",
            n_clusters=16,
            eps=0.99,
        ).count()
        extras["semdedup"] = round(time.perf_counter() - t0, 3)

        from lsd2_spark.operators.dsir import (
            dsir_resample,
            featurize_buckets,
            train_dsir,
        )

        t0 = time.perf_counter()
        dsir_target = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
        dsir_model = train_dsir(dsir_target, docs, "text", n_buckets=10_000)
        dsir_resample(
            docs, "text", "doc_id", dsir_model, n=100, normalize="mean"
        ).count()
        extras["dsir_train_resample"] = round(time.perf_counter() - t0, 3)

        # the same composition through the shared featurization (one
        # tokenize+hash pass cut once, reused by train AND resample —
        # the r13 recommended shape; the entry above keeps measuring
        # the independent-passes form for round-over-round comparison)
        from lsd2_spark.operators.common import cut_lineage

        t0 = time.perf_counter()
        dsir_b = cut_lineage(
            featurize_buckets(docs, "text", "doc_id", 10_000)
        )
        dsir_model2 = train_dsir(
            dsir_target, docs, "text", n_buckets=10_000,
            target_buckets=dsir_b.filter(F.col("_did") % 7 == 0),
            raw_buckets=dsir_b,
        )
        dsir_resample(
            docs, "text", "doc_id", dsir_model2, n=100, normalize="mean",
            buckets=dsir_b,
        ).count()
        extras["dsir_train_resample_shared"] = round(
            time.perf_counter() - t0, 3
        )

        from lsd2_spark.operators.quality_rules import gopher_quality_flags

        t0 = time.perf_counter()
        gopher_quality_flags(docs, "text", "doc_id").count()
        extras["gopher_rules"] = round(time.perf_counter() - t0, 3)

        from lsd2_spark.operators.code_rules import starcoder_code_flags

        t0 = time.perf_counter()
        starcoder_code_flags(docs, "text", "doc_id").count()
        extras["code_rules"] = round(time.perf_counter() - t0, 3)

        from lsd2_spark.operators.text_normalize import clean_text

        t0 = time.perf_counter()
        clean_text(docs.select("doc_id", "text"), "text").count()
        extras["clean_text"] = round(time.perf_counter() - t0, 3)

        from lsd2_spark.operators.decontam import fuzzy_decontaminate

        t0 = time.perf_counter()
        fuzzy_decontaminate(
            docs,
            docs.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text"),
            "text",
            "doc_id",
            min_jaccard=0.5,
        ).count()
        extras["fuzzy_decontam"] = round(time.perf_counter() - t0, 3)

        from lsd2_spark.operators.sketches import kmv_set_stats, kmv_sketch

        t0 = time.perf_counter()
        tok = docs.select(
            "source", F.explode(F.split(F.col("text"), r"[ \t\n\r\f]+")).alias("tok")
        ).filter("tok != ''")
        ska = kmv_sketch(tok, "tok", ["source"], k=128)
        kmv_set_stats(ska, ska, ["source"], k=128).count()
        extras["kmv_set_stats"] = round(time.perf_counter() - t0, 3)

        # the composed batch curation funnel: clean -> lang -> gopher ->
        # exact dedup -> keep-best fuzzy dedup -> decontam, end to end
        # (min_stop_words=1: the synthetic corpus's register only uses
        # "the" from the Gopher stopword battery)
        from lsd2_spark.operators.curate import curate_corpus, curation_report

        ev_funnel = docs.orderBy("doc_id").limit(50).select("text")
        t0 = time.perf_counter()
        tagged = curate_corpus(
            docs, eval_df=ev_funnel, min_words=10, min_stop_words=1
        )
        funnel = {r["stage"]: r["docs"] for r in curation_report(tagged).collect()}
        extras["curation_funnel"] = round(time.perf_counter() - t0, 3)
        extras["curation_funnel_kept"] = funnel.get("kept", 0)

        # the same funnel under lineage_cut="reliable" (checkpoints to
        # a job dir instead of executor-local blocks — the preemptible-
        # cluster configuration): measures the documented tradeoff
        # instead of arguing it
        ck = tempfile.mkdtemp(prefix="lsd2_ckpt_")
        try:
            spark.sparkContext.setCheckpointDir(ck)
            t0 = time.perf_counter()
            tagged_r = curate_corpus(
                docs, eval_df=ev_funnel, min_words=10, min_stop_words=1,
                lineage_cut="reliable",
            )
            curation_report(tagged_r).collect()
            extras["curation_funnel_reliable"] = round(
                time.perf_counter() - t0, 3
            )
        finally:
            # unset BEFORE deleting the dir: under the "auto" conf
            # default a lingering checkpoint dir would flip every
            # later bench section's cuts to reliable
            spark.sparkContext.setCheckpointDir(None)
            shutil.rmtree(ck, ignore_errors=True)

        # topic-diversity sampling: k-means (farthest-point seeding,
        # n_clusters scans of the cached sample) + per-cluster quota
        from lsd2_spark.operators.sampling import cluster_balanced_sample

        t0 = time.perf_counter()
        kept = cluster_balanced_sample(
            docs, "doc_id", text_col="text", n_clusters=16, cap=200, n_iters=2
        ).count()
        extras["cluster_sample"] = round(time.perf_counter() - t0, 3)
        extras["cluster_sample_kept"] = kept
    except Exception as e:  # never let the extras break the artifact
        extras["error"] = str(e)[:200]

    # load-normalized heavyweights: min-wall over the calibration CPU
    # reference's min-wall.  Round-over-round this quotient is the
    # drift discriminator — it cancels box load by construction.
    HEAVY = [
        "q21_crossmatch_knn",
        "q32_neardup_pairs",
        "q41_ivf_topk",
        "q41_ivf_search_only",
        "q68_dsir_score",
        "q69_fuzzy_decontam",
    ]
    cal_cpu_min = min(cal_cpu_runs) if cal_cpu_runs else None
    calibration = {
        "cpu_sec_runs": [round(x, 3) for x in cal_cpu_runs],
        "cpu_sec_min": round(cal_cpu_min, 3) if cal_cpu_min else None,
        "shuffle_sec_runs": [round(x, 3) for x in cal_shuffle_runs],
        "shuffle_sec_min": round(min(cal_shuffle_runs), 3)
        if cal_shuffle_runs
        else None,
        "normalized_min": {
            q: round(times_min[q] / cal_cpu_min, 2)
            for q in HEAVY
            if q in times_min and cal_cpu_min
        },
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_query_wall_time",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_min": times_min,
        "calibration": calibration,
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        "repeats": REPEATS,
        "streaming": streaming,
        "crossmatch_x10": x10,
        "crossmatch_skew": xskew,
        "density_x10": density,
        "semdedup_recall": semdedup_recall,
        "catalog_path_runs": catalog_path_runs,
        "extras": extras,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }
    # The FULL result outgrew the driver's 2,000-byte stdout capture
    # window (BENCH_r10/r11 recorded parsed:null against a 4.8 KB
    # line), so stdout gets a compact headline (size-asserted < 1,800
    # bytes in tests/test_bench_headline.py) and the full detail goes
    # to a sidecar file + stderr.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_local_detail.json"),
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(result, f)
            f.write("\n")
    except OSError as e:
        print(f"bench: could not write detail file {detail_path}: {e}",
              file=sys.stderr)
    print(json.dumps(result), file=sys.stderr)
    line = json.dumps(compact_headline(result, detail_path)) + "\n"
    os.write(real_stdout, line.encode())
    os.close(real_stdout)
    spark.stop()


def compact_headline(result: dict, detail_path: str | None = None) -> dict:
    """The ONE-line stdout artifact, sized for the driver's 2,000-byte
    capture window: total + per-query MIN-of-repeats (the load-robust
    number round-over-round comparisons read) + one scalar per scale
    probe.  Everything else (medians, per-stage breakdowns, extras,
    recall curves) lives in the detail sidecar this function's caller
    writes next to bench.py."""
    # min-of-repeats where sampled (every row including catalog ingest
    # and the pruned cone since the r13 measurement fix); any entry
    # living only in the median dict falls through
    qmin = dict(result.get("queries") or {})
    qmin.update(result.get("queries_min") or {})
    probes = {}
    for name, d in (result.get("density_x10") or {}).items():
        if isinstance(d, dict) and "exec_ratio" in d:
            probes[name.replace("_x10", "")] = d["exec_ratio"]
    # named *_sec / *_speedup so seconds and speedups are never read as
    # the dimensionless x10 growth ratios that fill the rest of the dict
    xm = result.get("crossmatch_x10") or {}
    if "exec_sec" in xm:
        probes["crossmatch_sec"] = xm["exec_sec"]
    xs = result.get("crossmatch_skew") or {}
    if "refined_speedup" in xs:
        probes["xmatch_skew_speedup"] = xs["refined_speedup"]
    if "auto_speedup" in xs:
        # refine_hot_cells (histogram-driven) vs the hand split — the
        # auto lever's wall win and its pair-set equality verdict
        probes["xmatch_skew_auto_speedup"] = xs["auto_speedup"]
        probes["xmatch_auto_pairs_equal"] = xs.get("auto_pairs_equal")
    cs = (result.get("density_x10") or {}).get("cc_skew") or {}
    if "rounds_flat" in cs:
        # the interpretable-alone scalar for the dense-cluster shape
        # (the wall ratio needs edge counts to read; detail carries it)
        probes["cc_rounds_flat"] = cs["rounds_flat"]
    ch = (result.get("density_x10") or {}).get("cc_chain") or {}
    capped = ch.get("capped_d24_steps8") or {}
    if "cap_warned" in capped:
        probes["cc_chain_cap_warns"] = capped["cap_warned"]
    if "rounds" in (ch.get("d24") or {}):
        probes["cc_chain_d24_rounds"] = ch["d24"]["rounds"]
    out = {
        "metric": result["metric"],
        "value": round(sum(qmin.values()), 3),
        "unit": result["unit"],
        "sf": result["sf"],
        "stat": f"min_of_{result.get('repeats', '?')}",
        "queries": qmin,
        "probe_ratios": probes,
        "detail": os.path.basename(detail_path)
        if detail_path
        else "BENCH_local_detail.json",
    }
    streaming = result.get("streaming") or {}
    if "min_rows_per_sec" in streaming:
        out["streaming_rows_per_sec"] = streaming["min_rows_per_sec"]
    cal = result.get("calibration") or {}
    if cal.get("cpu_sec_min"):
        # the load discriminator: two fixed, package-independent
        # reference jobs — if THEY moved round-over-round the box was
        # busy; if they held and a query's min wall moved, the code
        # got slower.  Normalized per-query quotients are derivable
        # (queries[q] / cal_cpu_min) so only the scalars ride the
        # budgeted line; the detail sidecar carries normalized_min.
        out["cal_cpu_min"] = cal["cpu_sec_min"]
        if cal.get("shuffle_sec_min"):
            out["cal_shuffle_min"] = cal["shuffle_sec_min"]
    extras = result.get("extras") or {}
    for k in ("curation_funnel", "curation_funnel_reliable"):
        if k in extras:
            out[k] = extras[k]
    # hard budget: the line must parse even if a future round doubles
    # the query list — shed the lowest-priority sections before ever
    # exceeding the driver's capture window
    for victim in ("curation_funnel_reliable", "curation_funnel",
                   "probe_ratios"):
        if len(json.dumps(out)) <= 1800:
            break
        out.pop(victim, None)
    keep = 30
    while len(json.dumps(out)) > 1800 and keep >= 3:
        # queries dict itself outgrew the budget: keep the slowest N
        out["queries"] = dict(
            sorted(out["queries"].items(), key=lambda kv: -kv[1])[:keep]
        )
        out["queries_truncated_to_slowest"] = keep
        keep //= 2
    if len(json.dumps(out)) > 1800:  # pathological keys/sf string
        out["queries"] = {}
        out["queries_truncated_to_slowest"] = 0
    return out


if __name__ == "__main__":
    main()
