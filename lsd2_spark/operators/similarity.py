"""Similarity search over embedding columns (array<float>).

- **brute-force cosine top-k** — the exact baseline: broadcast the
  query set, JVM-side dot products via ``zip_with``/``aggregate``
  (no Python in the hot path), ranking window per query.
- **IVF top-k** — the scale path: deterministic coarse centroids,
  candidates restricted to the ``nprobe`` nearest inverted lists.
  At 100 TB the candidate join is an equi-join on the list id (one
  shuffle, prunable), vs. the brute-force full scan per query.

Elements are cast float→double *before* arithmetic, and the fold is
left-to-right, so results are reproducible and oracle-comparable
(rounded at 1e-6 to absorb sum-order differences in other engines).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "cosine_sim_col",
    "cosine_topk",
    "ivf_topk",
    "hyperplane_lsh_topk",
    "embedding_neardup_candidates",
    "embedding_neardup_pairs",
    "kmeans_centroids",
    "kmeans_assign",
    "save_ivf_index",
    "load_ivf_index",
    "random_project",
]


from lsd2_spark.functions.numeric import round6, round6_np
from lsd2_spark.operators.common import spread_partitions as _spread


# Above this dimensionality the unrolled expression chain falls back to
# the higher-order fold: the analyzer/codegen cost of a ~3*dim-node tree
# stops paying for itself somewhere past typical embedding widths, and
# Spark's codegen would split >64KB methods anyway.  Both forms compute
# the identical left-to-right double fold, so the switch never changes
# results.
_UNROLL_MAX_DIM = 512

# The unrolled chain only pays above this many scored candidate pairs:
# paired A/B at dim=64 measured the codegen'd chain 1.9x faster at 124M
# pairs and 1.4x at 25M, but a LOSER below ~2M (fixed per-stage cost of
# the ~600-statement generated method dominates small jobs).  The
# switch reads Catalyst plan statistics (no extra jobs) and an estimate
# error only changes speed — both expression forms are bit-identical.
# Sized against ESTIMATES, which run ~3x high per side for parquet
# scans (sizeInBytes/width overcounts vs actual rows), so 32M estimated
# ~ 3-10M real pairs, right at the measured crossover.
_UNROLL_MIN_PAIRS = int(
    __import__("os").environ.get("SPARK_GRAFT_UNROLL_MIN_PAIRS", 32_000_000)
)


def _est_rows(df: DataFrame, row_width: int) -> int:
    """Optimizer row-count estimate for ``df``: exact rowCount when the
    plan stats carry one, else sizeInBytes / ``row_width``.  Driver-side
    only (plan statistics — no job).  Feeds the unroll cost switch, so
    an estimate that is off by even 4x only shifts which (bit-identical)
    expression form runs."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        # py4j hands BigInt-valued stats back as plain Python ints and
        # an empty Option as None
        if rc is not None and hasattr(rc, "isDefined") and rc.isDefined():
            return int(str(rc.get()))
        return max(1, int(stats.sizeInBytes()) // max(row_width, 1))
    except Exception:  # stats must never break a query path
        return 0


def _unroll_dim(dim: int, est_pairs: float) -> int | None:
    """The ``dim`` to pass to :func:`_dot`/:func:`_norm`: the static
    dim when the estimated pair volume clears the unroll threshold,
    else None (HOF fold)."""
    if 0 < dim <= _UNROLL_MAX_DIM and est_pairs >= _UNROLL_MIN_PAIRS:
        return dim
    return None


def _sql_name(col: "Column | str") -> str | None:
    """SQL-parseable reference for a column argument, or None if the
    argument is a computed Column (those can't ride the F.expr path)."""
    if not isinstance(col, str):
        return None
    return ".".join(f"`{p}`" for p in col.split("."))


def _as_col(col: "Column | str") -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dot(a: "Column | str", b: "Column | str", dim: int | None = None) -> Column:
    """Left-to-right double fold of ``sum(a[i]*b[i])``.

    With a static ``dim`` (every similarity operator probes it anyway)
    and plain column names, the fold is unrolled into a flat
    ``0.0 + a[0]*b[0] + a[1]*b[1] + …`` chain of
    GetArrayItem/Multiply/Add nodes — plain scalar expressions that
    WholeStageCodegen compiles, unlike the ``aggregate`` higher-order
    function, which is evaluated by interpreted lambda-tree walking on
    EVERY candidate pair (guide §4.1: that walk was the dominant cost
    of the similarity family's pair scoring).  The chain is built as
    ONE ``F.expr`` string: assembling it Column-by-Column cost ~600
    py4j round-trips per expression (measured: +3 s of driver-side
    DataFrame build per query).  Catalyst's ReorderAssociativeOperator
    only reassociates integral types, so the double add chain keeps
    its source order and every intermediate rounding is bit-identical
    to the fold — verified empirically over adversarial magnitudes
    before the unrolled form replaced the fold on the hot paths."""
    an, bn = _sql_name(a), _sql_name(b)
    if an is not None and bn is not None and dim is not None and 0 < dim <= _UNROLL_MAX_DIM:
        # get() (NULL past the end), not [i] (throws under ANSI): the
        # size==dim validity filter precedes every unroll site, but
        # inferred IsNotNull constraints on downstream filters get
        # substituted + combined below it (§4.4), where a thrown
        # index error would kill the job on a ragged row
        terms = " + ".join(
            f"CAST(get({an}, {i}) AS DOUBLE) * CAST(get({bn}, {i}) AS DOUBLE)"
            for i in range(dim)
        )
        return F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")
    return F.aggregate(
        F.zip_with(_as_col(a), _as_col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: "Column | str", dim: int | None = None) -> Column:
    """``sqrt`` of the left-to-right fold of ``sum(a[i]^2)`` — same
    unrolling (and same bit-identity argument) as :func:`_dot`."""
    an = _sql_name(a)
    if an is not None and dim is not None and 0 < dim <= _UNROLL_MAX_DIM:
        terms = " + ".join(
            f"CAST(get({an}, {i}) AS DOUBLE) * CAST(get({an}, {i}) AS DOUBLE)"
            for i in range(dim)
        )
        return F.sqrt(F.expr(f"CAST(0.0 AS DOUBLE) + {terms}"))
    return F.sqrt(
        F.aggregate(
            F.transform(_as_col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_sim_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _valid_vectors(df: DataFrame, vec_col: str, dim: int | None = None) -> DataFrame:
    """Drop vectors that cannot participate in cosine geometry: NULL,
    empty, and zero-norm (0/0 division), plus — when ``dim`` is given —
    any vector of a different dimensionality (the Arrow kernels stack
    batches into a dense matrix, so ragged inputs would crash).  Real
    corpora contain all of these; operators must be total over them."""
    # deliberately the HOF (any-length) norm, NOT the unrolled form:
    # this filter is what sees ragged vectors, and under ANSI mode an
    # unrolled a[i] past the end would throw instead of filtering.
    # Downstream projections may unroll because size==dim holds there.
    col = F.col(vec_col)
    cond = col.isNotNull() & (_norm(col) > 0)
    cond = cond & ((F.size(col) == dim) if dim is not None else (F.size(col) > 0))
    return df.filter(cond)


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Dimensionality of the first usable vector (None if there is
    none) — drives the ragged-input filter and hyperplane shapes."""
    col = F.col(vec_col)
    row = (
        df.filter(col.isNotNull() & (F.size(col) > 0))
        .select(F.size(col).alias("d"))
        .limit(1)
        .collect()
    )
    return int(row[0]["d"]) if row else None


_TOPK_SCHEMA = "query_id long, cand_id long, sim double, rnk int"
_PAIRS_SCHEMA = "id1 long, id2 long, sim double"


#: slack rows collected past ``n_lists`` by the merged probe+init job:
#: ragged rows among the first ``n_lists + slack`` ids are dropped
#: driver-side; only a corpus with MORE than ``slack`` ragged rows in
#: that prefix falls back to the two-job path (rare, and exact either
#: way).
_INIT_SLACK = 64


def _probe_dim_and_init(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_lists: int,
    sample_stride: int,
) -> "tuple[int | None, np.ndarray | None]":
    """ONE driver job replacing :func:`_probe_dim` + the k-means
    ``init_order="id"`` collect (they were two sequential plan-sized
    collects — pure scheduler latency on the q41 build path).  Branch A
    reproduces ``_probe_dim`` exactly (first usable vector in scan
    order); branch B collects the first ``n_lists + _INIT_SLACK``
    candidate init rows by id with the SAME rounding expression the
    k-means init uses, and the ``size == dim`` validity cut is applied
    driver-side once branch A's dim is known.  Returns
    ``(dim, init_cents)``; ``init_cents`` is None when the slack was
    exhausted and the caller must fall back to the exact two-job path.
    """
    col = F.col(vec_col)
    probe = (
        df.filter(col.isNotNull() & (F.size(col) > 0))
        .select(
            F.lit(0).alias("_part"),
            F.size(col).cast("long").alias("_d"),
            F.lit(None).cast("array<double>").alias("_v"),
        )
        .limit(1)
    )
    init = df.filter(col.isNotNull() & (_norm(col) > 0) & (F.size(col) > 0))
    if sample_stride > 1:
        init = init.filter(F.col(id_col) % sample_stride == 0)
    # the first rows by the RAW id column (same sort key, same type
    # semantics as the k-means init collect); Spark keeps no row order
    # through a Union, so the id rides along and the driver re-sorts
    # (nulls first, as Spark's ascending sort puts them)
    init = (
        init.select(
            F.lit(1).alias("_part"),
            F.size(col).cast("long").alias("_d"),
            F.transform(col, lambda x: round6(x.cast("double"))).alias("_v"),
            F.col(id_col).alias("_oid"),
        )
        .orderBy(F.col("_oid").asc())
        .limit(n_lists + _INIT_SLACK)
    )
    rows = probe.unionByName(init, allowMissingColumns=True).collect()
    probe_rows = [r for r in rows if r["_part"] == 0]
    if not probe_rows:
        return None, None
    dim = int(probe_rows[0]["_d"])
    init_rows = sorted(
        (r for r in rows if r["_part"] == 1),
        key=lambda r: (r["_oid"] is not None, r["_oid"]),
    )
    valid = [r for r in init_rows if int(r["_d"]) == dim][:n_lists]
    if len(valid) < n_lists and len(init_rows) >= n_lists + _INIT_SLACK:
        # more rows may exist past the slack window — fall back
        return dim, None
    return dim, np.array([r["_v"] for r in valid], dtype=np.float64)


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_id: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` is broadcast (it must be the small side); candidates
    stream through a single scan.  Deterministic ranking: (rounded sim
    desc, candidate id).
    """
    qid = query_id or id_col
    dim = _probe_dim(candidates, vec_col)
    if dim is None:
        return candidates.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    candidates = _spread(_valid_vectors(candidates, vec_col, dim))
    queries = _valid_vectors(queries, vec_col, dim)
    # the query side is broadcast + crossJoined: a large query set makes
    # this an all-pairs plan.  Guard with a cheap bounded count on the
    # (small) query side and route big sets to the ANN paths.
    probe = queries.select(qid).limit(10_001).count()
    if probe > 10_000:
        raise ValueError(
            "cosine_topk is the exact broadcast baseline — the query set "
            f"exceeds 10k vectors ({probe}+); use ivf_topk or "
            "hyperplane_lsh_topk for large query sets"
        )
    # cost switch: unroll the scoring fold only when the pair volume
    # (every candidate x every query) clears the threshold
    udim = _unroll_dim(dim, float(_est_rows(candidates, 4 * dim + 24)) * probe)
    # norms precomputed once per vector (not once per pair)
    q = F.broadcast(
        queries.select(
            F.col(qid).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _norm(vec_col, udim).alias("_qn"),
        )
    )
    cand = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col, udim).alias("_cn"),
    )
    joined = cand.crossJoin(q).filter(F.col("cand_id") != F.col("query_id"))
    sim = round6(
        _dot("_qv", "_cv", udim) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        joined.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "sim", "rnk")
    )


def _hyperplanes(n_tables: int, n_bits: int, dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes for every (table, bit):
    small integer lattice derived from indices — stable across
    runs/processes with no RNG state.  Shape (n_tables*n_bits, dim)."""
    t = np.repeat(np.arange(n_tables), n_bits)[:, None]
    i = np.tile(np.arange(n_bits), n_tables)[:, None]
    j = np.arange(dim)[None, :]
    w = ((t * 131 + i * 37 + j * 101 + (i * j + t * j) % 29) % 17).astype(np.float64) - 8.0
    return w / np.maximum(np.linalg.norm(w, axis=1, keepdims=True), 1e-12)


def _bucket_udf(
    spark, candidates: DataFrame, vec_col: str, n_bits: int, n_tables: int,
    dim: int | None = None,
):
    """Arrow UDF computing each vector's ``n_tables`` sign-LSH bucket
    ids (table index folded into the id).  Callers pass ``dim`` (from
    ``_probe_dim``) and pre-filter ragged vectors out."""
    from pyspark.sql.types import ArrayType, IntegerType

    if dim is None:
        dim_probe = candidates.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(dim_probe[0]["d"])
    planes = _hyperplanes(n_tables, n_bits, dim)
    bc = spark.sparkContext.broadcast(planes)

    @F.pandas_udf(ArrayType(IntegerType()))
    def buckets_of(v: pd.Series) -> pd.Series:
        valid = v.notna().to_numpy()
        res: list = [None] * len(v)
        if valid.any():
            # np.array over Series.tolist(): one C-level conversion of the
            # Arrow-produced ndarray elements instead of a per-row Python
            # comprehension (measured 2.7x on the conversion; identical
            # float64 values)
            m = np.array(v[valid].tolist(), dtype=np.float64)
            bits = (m @ bc.value.T) > 0  # (n, n_tables*n_bits)
            bits = bits.reshape(len(m), n_tables, n_bits)
            weights = (1 << np.arange(n_bits)).astype(np.int32)
            codes = (bits * weights[None, None, :]).sum(axis=2).astype(np.int32)
            # disambiguate tables in the bucket id
            codes += (np.arange(n_tables) << n_bits).astype(np.int32)[None, :]
            for j, i in enumerate(np.nonzero(valid)[0]):
                res[i] = codes[j]
        return pd.Series(res, dtype="object")

    # NOTE: deliberately NOT marked non-deterministic.  The guide-§4.4
    # duplicate-evaluation hazard (a non-outer explode above this UDF
    # infers a NotNull/size>0 constraint, pushes it below the
    # projection, and evaluates the UDF twice) is avoided by using
    # OUTER explodes at the call sites instead — because marking the
    # UDF non-deterministic would de-canonicalize the self-join sides
    # in embedding_neardup_candidates and break the AQE stage reuse
    # that computes this UDF once for both.
    return buckets_of


def _check_tag_bits(n_bits: int, n_tables: int) -> None:
    """Bucket ids pack ``(table << n_bits) | code`` into an int32; past
    31 bits the tags of different tables alias, and the first-match
    dedup (``array_min(array_intersect(...))``) then emits a pair once
    per aliased table."""
    tag_bits = (max(n_tables, 1) - 1).bit_length()  # ceil(log2(n_tables))
    if n_bits + tag_bits > 31:
        raise ValueError(
            f"n_bits={n_bits} with n_tables={n_tables} needs "
            f"{n_bits + tag_bits} bits of bucket id; at most 31 fit the "
            "int32 bucket tag (n_bits + ceil(log2(n_tables)) <= 31)"
        )


def hyperplane_lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 8,
    query_id: str | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane (sign) LSH.

    Each of ``n_tables`` tables hashes vectors to a ``n_bits``-bit
    sign signature; candidates sharing ANY table bucket with a query
    are scored.  Per-bit collision probability is 1 - angle/π, so the
    miss probability decays as (1 - p^bits)^tables — tables buy recall,
    bits buy selectivity.  Pair space shrinks ~2^n_bits/n_tables-fold
    vs brute force.  Recall is tested against the exact baseline.
    """
    _check_tag_bits(n_bits, n_tables)
    qid = query_id or id_col
    spark = candidates.sparkSession
    dim = _probe_dim(candidates, vec_col)
    if dim is None:  # no usable vectors at all
        return spark.createDataFrame([], _TOPK_SCHEMA)
    candidates = _spread(_valid_vectors(candidates, vec_col, dim))
    queries = _valid_vectors(queries, vec_col, dim)
    buckets_of = _bucket_udf(spark, candidates, vec_col, n_bits, n_tables, dim)
    # cost switch: expected scored pairs ~ n_c * n_q * tables / 2^bits
    udim = _unroll_dim(
        dim,
        float(_est_rows(candidates, 4 * dim + 24))
        * _est_rows(queries, 4 * dim + 24)
        * n_tables
        / float(2 ** n_bits),
    )

    # explode_outer on both sides: see embedding_neardup_candidates —
    # the non-outer form duplicates the bucket UDF below the inferred
    # non-null constraint; a null bucket row cannot survive the inner
    # equi-join, so results are identical.  Both sides also CARRY their
    # full per-table bucket array so the join can emit each
    # (query, cand) pair only from its FIRST colliding table — the
    # map-side dedup embedding_neardup_candidates uses, replacing the
    # former dropDuplicates exchange that shuffled the raw collision
    # pairs WITH both vectors riding every row (guide §8: never move
    # payload bytes to make a decision a few ints can make).  Every
    # duplicate row of a pair is value-identical (same vectors, same
    # norms), so keeping the first-table row is result-identical.
    cand = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col, udim).alias("_cn"),
        buckets_of(F.col(vec_col)).alias("_cbs"),
    ).select(
        "cand_id", "_cv", "_cn", "_cbs",
        F.explode_outer(F.col("_cbs")).alias("bucket"),
    )
    q = F.broadcast(
        queries.select(
            F.col(qid).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _norm(vec_col, udim).alias("_qn"),
            buckets_of(F.col(vec_col)).alias("_qbs"),
        ).select(
            "query_id", "_qv", "_qn", "_qbs",
            F.explode_outer(F.col("_qbs")).alias("bucket"),
        )
    )
    # bucket ids are table-tagged (table << n_bits) and strictly
    # increase with the table index, so the first table where the pair
    # collides holds bucket array_min(array_intersect(...)) — the
    # codegen-able spelling of the first-match dedup (the former
    # zip_with + array_position probe was CodegenFallback: interpreted
    # per raw collision row; see embedding_neardup_candidates)
    first_bucket = F.array_min(F.array_intersect(F.col("_cbs"), F.col("_qbs")))
    joined = (
        cand.join(q, "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .filter(first_bucket == F.col("bucket"))
    )
    sim = round6(
        _dot("_qv", "_cv", udim) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        joined.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "sim", "rnk")
    )


def _l2_assign(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Rounded-L2 assignment matrix: dists rounded at 1e-6 so the
    argmin is reproducible across engines (sum-order double noise is
    ~1e-13); ties break to the smallest list id via stable argmin.

    Computed via the ``|x|² - 2x·c + |c|²`` expansion — one BLAS
    matmul instead of the direct ``(m[:,None,:]-cents)²`` broadcast,
    whose n×k×d temporary made memory traffic (not flops) the
    dominant cost of every k-means pass.  The expansion's different
    accumulation order shifts values by ~1e-13, the same tolerance
    class the 1e-6 snap already absorbs for the direct sum's own
    cross-engine noise; tiny negative zeros are snapped to 0.0."""
    d2 = (
        (m * m).sum(axis=1)[:, None]
        - 2.0 * (m @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )
    return round6_np(np.maximum(d2, 0.0))


def _farthest_point_init(
    samp: DataFrame, n_lists: int, subsample: int = 4096
) -> np.ndarray:
    """Deterministic farthest-point seeding over the k-means sample:
    seed 1 is the hash-first vector; each next seed maximizes its min
    distance to the chosen set (ties to the earlier subsample row).
    The greedy D-max analogue of k-means++ without RNG — for
    well-separated clusters it lands one seed per cluster, where
    id/hash-ordered seeding can put every seed in one cluster
    (id-order locality: crawl order, planted blocks).

    Scale shape: ONE distributed TakeOrdered collects a hash-ordered
    subsample (``subsample`` rows, plan-sized — the portable hash makes
    it a deterministic pseudo-random draw of the corpus), then the
    greedy runs driver-side in NumPy (subsample x n_lists distances).
    The per-seed-Spark-job alternative costs a scheduler round-trip
    per seed — measured ~5 s of pure overhead at n_lists=16.  Stops
    early (returning fewer rows) when the subsample has fewer distinct
    vectors than requested seeds."""
    from lsd2_spark.functions.portable_hash import hash64

    rows = (
        samp.orderBy(
            hash64(F.col("_vid").cast("string")).asc(), F.col("_vid").asc()
        )
        .limit(int(subsample))
        .collect()
    )
    if not rows:
        return np.zeros((0, 0), dtype=np.float64)
    m = np.array([r["_v"] for r in rows], dtype=np.float64)
    chosen = [0]
    # min distance of every subsample point to the chosen set so far
    mind = _l2_assign(m, m[:1]).min(axis=1)
    for _ in range(1, n_lists):
        nxt = int(np.argmax(mind))  # stable: ties -> earlier row
        if mind[nxt] <= 0.0:
            break  # fewer distinct vectors than requested seeds
        chosen.append(nxt)
        mind = np.minimum(mind, _l2_assign(m, m[nxt : nxt + 1]).min(axis=1))
    return m[chosen]


def kmeans_centroids(
    candidates: DataFrame,
    vec_col: str,
    id_col: str,
    n_lists: int,
    n_iters: int = 2,
    sample_stride: int = 1,
    dim: int | None = None,
    init_order: str = "id",
    init_subsample: int = 4096,
    init_cents: "np.ndarray | None" = None,
) -> np.ndarray:
    """Deterministic Lloyd's k-means over raw vectors — every step is
    engine-agnostic so a SQL oracle can replay it bit-for-bit:

    - sample: ``id % sample_stride == 0`` (deterministic, bounded at
      scale by the stride — no RNG state anywhere);
    - components are rounded to 6 dp up front, so the exact-decimal
      casts below snap to an unambiguous 1e-6 grid point in any engine
      (DuckDB's double→DECIMAL cast scales in floating point and can
      snap values near a grid boundary differently — observed);
    - init: the first ``n_lists`` sampled vectors by id (the
      oracle-replayed default; ``init_order="hash"`` orders by the
      portable hash instead — equally replayable via hash64_sql —
      and ``init_order="spread"`` uses deterministic farthest-point
      seeding, the right choice when id order carries topical
      locality);
    - assignment: argmin of FLOOR(L2²·1e6+0.5)/1e6 (deterministic half-up,
      engine-portable), ties to the smaller list id;
    - update: per-dimension DECIMAL(28,6) sums (exact, order-free)
      divided by the count in double — identical doubles in any engine;
    - empty lists keep their previous centroid.

    Distributed shape: each iteration is ONE Arrow pass over the sample
    that both assigns vectors and accumulates per-list partial sums
    in-kernel (exact int64 micro-units — components are on the 1e-6
    grid, so ×1e6 is integral and the sum is order-free like the
    decimal sum it replaces); the shuffle then moves only
    n_partitions×n_lists partial rows instead of sample×dim exploded
    rows, and only the n_lists×dim centroid table (plan-sized) is ever
    collected.  The exact-integer partials divided via DECIMAL yield
    bit-identical doubles to the previous per-element decimal sums, so
    the SQL oracle replay is unchanged.
    """
    spark = candidates.sparkSession
    if dim is None:  # callers that already probed pass it through
        dim = _probe_dim(candidates, vec_col)
    samp = _valid_vectors(candidates, vec_col, dim).select(
        F.col(id_col).alias("_vid"),
        F.transform(F.col(vec_col), lambda x: round6(x.cast("double"))).alias("_v"),
    )
    if sample_stride > 1:
        samp = samp.filter(F.col("_vid") % sample_stride == 0)
    samp = samp.cache()

    # init: "id" = first n_lists by id (the oracle-replayed default,
    # q41); "hash" = first n_lists by the portable 60-bit hash of the
    # id — equally deterministic and SQL-replayable (hash64_sql), but
    # immune to id-order locality (crawl order, planted blocks), which
    # under "id" seeds every centroid inside one neighborhood
    if init_cents is not None:
        # precomputed by the caller's merged probe+init job
        # (:func:`_probe_dim_and_init`) — identical rows/rounding to the
        # ``init_order="id"`` collect below, one driver job instead of two
        cents = init_cents
    elif init_order == "spread":
        cents = _farthest_point_init(samp, n_lists, subsample=init_subsample)
    else:
        if init_order == "hash":
            from lsd2_spark.functions.portable_hash import hash64

            init_sort = [
                hash64(F.col("_vid").cast("string")).asc(),
                F.col("_vid").asc(),
            ]
        elif init_order == "id":
            init_sort = [F.col("_vid").asc()]
        else:
            raise ValueError(
                f"init_order must be 'id', 'hash' or 'spread', got {init_order!r}"
            )
        init_rows = samp.orderBy(*init_sort).limit(n_lists).collect()
        cents = np.array([r["_v"] for r in init_rows], dtype=np.float64)

    partial_schema = "_list int, _cnt long, _smicro array<long>"

    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cents)

        def assign_and_sum(batches):
            sums = np.zeros((n_lists, dim), dtype=np.int64)
            cnts = np.zeros(n_lists, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(pdf["_v"].tolist(), dtype=np.float64)
                a = np.argmin(_l2_assign(m, bc.value), axis=1)
                # components are pre-rounded to 6 dp → ×1e6 is integral;
                # rint snaps the double representation noise
                np.add.at(sums, a, np.rint(m * 1e6).astype(np.int64))
                cnts += np.bincount(a, minlength=n_lists)
            keep = cnts > 0
            yield pd.DataFrame(
                {
                    "_list": np.arange(n_lists, dtype=np.int32)[keep],
                    "_cnt": cnts[keep],
                    # object dtype: an EMPTY keep otherwise builds a
                    # float64 column pyarrow can't cast to list<int64>
                    "_smicro": pd.Series(list(sums[keep]), dtype=object),
                }
            )

        means = (
            samp.select("_v")
            .mapInPandas(assign_and_sum, partial_schema)
            .select("_list", "_cnt", F.posexplode("_smicro").alias("_j", "_m"))
            .groupBy("_list", "_j")
            .agg(
                (
                    # exact: the cross-partition sum accumulates in
                    # DECIMAL so huge-magnitude corpora cannot overflow
                    # int64 between partitions; decimal division then
                    # de-scales the micro-units and the correctly-
                    # rounded double matches the old decimal(28,6)-sum
                    # → double cast bit-for-bit
                    (
                        F.sum(F.col("_m").cast("decimal(38,0)")).cast(
                            "decimal(38,6)"
                        )
                        / F.lit(1_000_000)
                    ).cast("double")
                    / F.sum("_cnt")
                ).alias("_w")
            )
            .collect()
        )
        new = cents.copy()  # empty lists keep their previous centroid
        for r in means:
            new[r["_list"], r["_j"]] = r["_w"]
        cents = new
    samp.unpersist()
    return cents


#: the ``n_bits="auto"`` density rule's target bucket population: at
#: ~312 rows/bucket the rule reproduces the bench-measured operating
#: points (5k rows -> 4 bits, 50k rows -> 7 bits, where the x10 probe
#: recorded exec ratio 9.6 scaled vs 32.2 fixed-config).
_AUTO_ROWS_PER_BUCKET = 312.5


def _auto_bits(n_rows: int, n_tables: int) -> int:
    import math

    bits = int(round(math.log2(max(n_rows, 1) / _AUTO_ROWS_PER_BUCKET)))
    # table tag is packed as (table << n_bits) into an int32 bucket id
    cap = 30 - max(int(math.ceil(math.log2(max(n_tables, 1)))), 0)
    return min(max(bits, 4), cap)


def embedding_neardup_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_bits: "int | str" = 4,
    n_tables: int = 16,
) -> DataFrame:
    """The pre-threshold candidate stage of
    :func:`embedding_neardup_pairs`: every distinct bucket-colliding
    pair with its exact cosine, BEFORE the similarity filter.  Exposed
    because candidate volume (bucket-collision growth), not output-pair
    count, is what degrades first when the corpus densifies — the
    density probes and collision-bound regressions measure this stage
    directly.

    ``n_bits="auto"`` applies the density rule the x10 probes measure:
    hold per-bucket population ~constant (sign-LSH buckets are
    2^n_bits per table, so densifying a corpus 10x wants +log2(10)≈3
    bits; bench r9/r10 recorded exec ratio 32.2 at fixed bits vs 9.6
    scaled).  Costs one count() job.  The recall caveat is the
    standard LSH one and is deliberate: wider bits at fixed n_tables
    cut per-pair collision probability (recall follows
    1-(1-p^bits)^tables), and holding recall constant under
    densification instead costs ~n^rho extra TABLES (Indyk-Motwani) —
    pass explicit (n_bits, n_tables) when recall is the binding
    constraint; the floor of 4 keeps small corpora at the measured
    default."""
    if isinstance(n_bits, int):  # "auto" is capped by _auto_bits
        _check_tag_bits(n_bits, n_tables)
    spark = df.sparkSession
    dim = _probe_dim(df, vec_col)
    if dim is None:
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    df = _valid_vectors(df, vec_col, dim)
    n_est: float
    if n_bits == "auto":
        # count AFTER the validity filter: null/ragged-vector rows never
        # land in a bucket, so they must not inflate the density
        # estimate (and the count job scans only what buckets will see)
        n_est = df.count()
        n_bits = _auto_bits(int(n_est), n_tables)
    elif not isinstance(n_bits, int):
        raise ValueError(f"n_bits must be an int or 'auto', got {n_bits!r}")
    else:
        n_est = float(_est_rows(df, 4 * dim + 24))
    df = _spread(df)
    buckets_of = _bucket_udf(spark, df, vec_col, n_bits, n_tables, dim)
    # cost switch: expected scored pairs ~ n^2/2 * tables / 2^bits
    udim = _unroll_dim(dim, n_est * n_est / 2.0 * n_tables / float(2 ** n_bits))
    tagged = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(vec_col, udim).alias("_n"),
        buckets_of(F.col(vec_col)).alias("_bs"),
    ).select(
        # OUTER explode: the non-outer form implies the array is
        # non-null/non-empty, and the optimizer pushes that inferred
        # constraint below the projection, evaluating the bucket UDF
        # twice per row (guide §4.4).  Valid vectors always produce a
        # bucket array, and a hypothetical null key row would not
        # survive the inner equi-join — results are identical.
        "_id", "_v", "_n", "_bs",
        F.explode_outer(F.col("_bs")).alias("bucket"),
    )
    # NOTE: no repartition-for-stage-reuse here (unlike
    # lsh_candidate_pairs): the two self-join sides prune differently,
    # so their exchange subtrees never canonicalize equal and the
    # added shuffles+sorts were measured pure loss (2.6 -> 3.5 s on
    # q45).  The broadcast self-join keeps the pair scoring pipelined;
    # the outer explode above already removed the duplicated UDF
    # evaluation per side.
    l, r = tagged.alias("l"), tagged.alias("r")
    # emit each pair only from its FIRST colliding table, as a check in
    # the join condition itself.  Bucket ids are table-tagged
    # ((table << n_bits) | sign bits), so a value can only match at the
    # same table and values strictly increase with the table index —
    # the first colliding table's bucket is exactly
    # array_min(array_intersect(...)).  This replaces the former
    # zip_with + array_position probe: higher-order functions are
    # CodegenFallback and their per-row interpreted lambda walk
    # dominated the raw collision stage at x10 density (16.2 -> 8.2 s
    # paired), while array_intersect/array_min are codegen'd collection
    # ops.  Pair sets verified identical at sf0.1 (exact frame hash)
    # and x10 (count + order-free pair checksums).
    first_bucket = F.array_min(F.array_intersect(F.col("l._bs"), F.col("r._bs")))
    joined = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id"))
        & (first_bucket == F.col("l.bucket")),
    )
    pairs = joined.select(
        F.col("l._id").alias("id1"),
        F.col("r._id").alias("id2"),
        round6(
            _dot("l._v", "r._v", udim)
            / (F.col("l._n") * F.col("r._n"))
        ).alias("sim"),
    )
    return pairs


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.4,
    n_bits: "int | str" = 4,
    n_tables: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup variant of the
    LSH machinery: bucket every vector into ``n_tables`` sign-LSH
    tables, self-join on the bucket id (id1 < id2, distinct,
    :func:`embedding_neardup_candidates`), score the surviving
    candidates with the exact cosine, and keep pairs at or above
    ``threshold``.  ``n_bits="auto"`` scales the bucket width with
    corpus density (see :func:`embedding_neardup_candidates` for the
    rule and its recall tradeoff).

    100 TB shape: the self-join is a bucketed equi-join (one shuffle on
    the bucket id, AQE splits hot buckets) — never an all-pairs plan;
    recall follows the standard sign-LSH bound (1-(1-p^bits)^tables).
    Deterministic hyperplanes make the whole pipeline SQL-replayable,
    so the gate hash-matches a DuckDB oracle end-to-end.
    """
    pairs = embedding_neardup_candidates(df, vec_col, id_col, n_bits, n_tables)
    return pairs.filter(F.col("sim") >= threshold)


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    n_iters: int = 2,
    sample_stride: int = 1,
    query_id: str | None = None,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate top-k: IVF (inverted-file) partitioning.

    Coarse centroids come from deterministic sampled k-means
    (``kmeans_centroids``) — plan-sized driver state, like the
    reference's partitioning plan.  Every candidate is assigned to its
    nearest centroid (one broadcast Arrow pass); each query probes its
    ``nprobe`` nearest lists, and candidates meet queries in an
    equi-join on the list id (one prunable shuffle — the 100 TB path
    vs. the brute-force full scan per query).  The whole pipeline is
    deterministic, so the DuckDB oracle replays it exactly.

    Pass ``centroids`` (from a prior ``kmeans_centroids`` call) to
    reuse a built index across many query batches — at scale the index
    is built once and searched many times; re-deriving it per query
    wastes a k-means pass over the corpus sample.
    """
    qid = query_id or id_col
    init_cents = None
    if centroids is None:
        # merged probe+init: ONE driver job replaces the sequential
        # dim-probe and k-means init collects (same rows, same rounding
        # — _probe_dim_and_init falls back to None when its slack
        # window is exhausted, and the exact two-job path runs below)
        dim, init_cents = _probe_dim_and_init(
            candidates, vec_col, id_col, n_lists, sample_stride
        )
    else:
        dim = _probe_dim(candidates, vec_col)
    if dim is None:
        return candidates.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    candidates = _spread(_valid_vectors(candidates, vec_col, dim))
    queries = _valid_vectors(queries, vec_col, dim)
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            candidates, vec_col, id_col, n_lists, n_iters, sample_stride,
            dim=dim, init_cents=init_cents,
        )
    )
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(cents)

    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(IntegerType())
    def nearest_list(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(np.argmin(_l2_assign(m, bc.value), axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_lists(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)
        d2 = _l2_assign(m, bc.value)
        # (rounded dist asc, list id asc) — np.argsort is stable, so
        # equal rounded dists resolve to the smaller list id
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    # pure functions, but the list-id equi-join infers IsNotNull on
    # their outputs and pushes it below the projection, evaluating each
    # UDF twice per row (observed: two ArrowEvalPython nodes on the
    # candidate side of the q41 plan).  Non-deterministic marking pins
    # a single evaluation (guide §4.4).
    nearest_list = nearest_list.asNondeterministic()
    probe_lists = probe_lists.asNondeterministic()

    # clustering distances use the same 6dp-rounded components the
    # centroids were trained on (oracle parity); scoring keeps raw vectors
    vec_r = F.transform(F.col(vec_col), lambda x: round6(x.cast("double")))
    # cost switch: each query probes nprobe of n_lists lists, so the
    # expected scored pairs ~ n_c * n_q * nprobe / n_lists
    udim = _unroll_dim(
        dim,
        float(_est_rows(candidates, 4 * dim + 24))
        * _est_rows(queries, 4 * dim + 24)
        * nprobe
        / float(max(n_lists, 1)),
    )
    # norms precomputed once per vector (bit-identical to the per-pair
    # recomputation this replaces: same vector, same unrolled fold)
    cand = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col, udim).alias("_cn"),
        nearest_list(vec_r).alias("list_id"),
    )
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(vec_col, udim).alias("_qn"),
        F.explode(probe_lists(vec_r)).alias("list_id"),
    )
    joined = cand.join(F.broadcast(q), "list_id").filter(
        F.col("cand_id") != F.col("query_id")
    )
    sim = round6(
        _dot("_qv", "_cv", udim) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        joined.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "sim", "rnk")
    )


def save_ivf_index(centroids: np.ndarray, path: str) -> None:
    """Persist a centroid table (from :func:`kmeans_centroids`) as a
    plain parquet table ``(list_id int, centroid array<double>)`` — the
    build-once/search-many index survives the session and is readable
    by any engine (the oracle included), not just this library."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "list_id": pa.array(range(len(centroids)), pa.int32()),
            "centroid": pa.array(
                [list(map(float, c)) for c in centroids], pa.list_(pa.float64())
            ),
        }
    )
    pq.write_table(tbl, path)


def load_ivf_index(path: str) -> np.ndarray:
    """Load a centroid table written by :func:`save_ivf_index`; pass
    the result to ``ivf_topk(..., centroids=...)``."""
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by("list_id")
    return np.array([np.asarray(c, dtype=np.float64) for c in t["centroid"].to_pylist()])


def _coarse_cells(
    cents: np.ndarray, n_coarse: int, n_iters: int = 2
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Coarse quantizer OVER a centroid matrix — the index for
    hierarchical assignment.  The k×d centroid table is plan-sized, so
    this is pure driver-side NumPy (deterministic Lloyd's: init = the
    first ``n_coarse`` centroids, the same rounded-L2 rule as
    everywhere else; empty cells are dropped so every probed cell
    holds at least one candidate).  Returns the coarse centers and,
    per cell, the ascending centroid-id member array."""
    k = len(cents)
    n_coarse = max(1, min(int(n_coarse), k))
    cc = cents[:n_coarse].copy()
    for _ in range(n_iters):
        a = np.argmin(_l2_assign(cents, cc), axis=1)
        for c in range(n_coarse):
            sel = cents[a == c]
            if len(sel):
                cc[c] = sel.mean(axis=0)
    a = np.argmin(_l2_assign(cents, cc), axis=1)
    members = [np.flatnonzero(a == c) for c in range(n_coarse)]
    keep = [c for c in range(n_coarse) if len(members[c])]
    return cc[keep], [members[c] for c in keep]


def _hier_nearest(
    m: np.ndarray,
    cents: np.ndarray,
    coarse: np.ndarray,
    members: list[np.ndarray],
    nprobe: int,
) -> np.ndarray:
    """Nearest-centroid ids for ``m`` probing only the ``nprobe``
    nearest coarse cells per row — O(n·(√k + nprobe·k/√k)·d) instead
    of O(n·k·d).  Approximate by construction (the true nearest
    centroid can live in an unprobed cell — the same boundary risk any
    space partition takes); within the probed set the rule matches the
    exact path bit-for-bit: rounded-L2, ties to the smaller centroid
    id (stable argmin over ascending member ids per cell, explicit
    smaller-id preference across cells)."""
    n = len(m)
    cd = _l2_assign(m, coarse)
    order = np.argsort(cd, axis=1, kind="stable")[:, : max(1, nprobe)]
    best_d = np.full(n, np.inf)
    best_id = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    for c in range(len(coarse)):
        rows = np.flatnonzero((order == c).any(axis=1))
        if not rows.size:
            continue
        cand = members[c]
        d2 = _l2_assign(m[rows], cents[cand])
        j = np.argmin(d2, axis=1)
        dd = d2[np.arange(len(rows)), j]
        cid = cand[j]
        upd = (dd < best_d[rows]) | (
            (dd == best_d[rows]) & (cid < best_id[rows])
        )
        rs = rows[upd]
        best_d[rs] = dd[upd]
        best_id[rs] = cid[upd]
    return best_id


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: np.ndarray,
    nprobe: int | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid (same rounded-L2,
    ties-to-smaller-list rule as the k-means build) — the corpus
    clustering primitive: cluster-balanced sampling, per-topic
    accounting, routing.  One Arrow pass, no shuffle; invalid vectors
    (null/ragged/zero-dim) get ``cluster_id = NULL`` instead of being
    dropped, so the operator is total over real corpora.

    ``nprobe``: hierarchical (approximate) assignment — build a
    √k-cell coarse quantizer over the centroids driver-side and probe
    only the ``nprobe`` nearest cells per vector.  This is the
    faiss-style answer to the O(n·k·d) dense pass going superlinear
    when the cluster count scales WITH the corpus (SemDeDup's k∝n
    rule): per-vector cost drops to O((√k + nprobe·k/√k)·d).  Leave
    ``None`` for exact assignment — required wherever an oracle
    replays the assignment bit-for-bit (IVF build, q41)."""
    from pyspark.sql.types import IntegerType

    spark = df.sparkSession
    dim = centroids.shape[1]
    cents64 = np.asarray(centroids, dtype=np.float64)
    bc = spark.sparkContext.broadcast(cents64)
    hier = nprobe is not None and len(cents64) > 4
    bc_coarse = None
    if hier:
        kc = int(np.ceil(np.sqrt(len(cents64))))
        bc_coarse = spark.sparkContext.broadcast(
            _coarse_cells(cents64, kc)
        )

    @F.pandas_udf(IntegerType())
    def nearest(v: pd.Series) -> pd.Series:
        ok = v.map(
            lambda x: x is not None and len(x) == dim
        ).to_numpy(dtype=bool)
        out = np.full(len(v), -1, dtype=np.int64)
        if ok.any():
            m = np.asarray([np.asarray(x, dtype=np.float64) for x in v[ok]])
            m = round6_np(m)
            if hier:
                coarse, members = bc_coarse.value
                out[ok] = _hier_nearest(
                    m, bc.value, coarse, members, int(nprobe)
                )
            else:
                out[ok] = np.argmin(_l2_assign(m, bc.value), axis=1)
        res = pd.Series(out).astype("object")
        res[~ok] = None
        return res.astype("Int32")

    return df.select(
        F.col(id_col), nearest(F.col(vec_col)).alias("cluster_id")
    )


def random_project(
    df: DataFrame,
    vec_col: str,
    out_dim: int,
    out_col: str = "projected",
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction:
    ``y = x @ P.T`` with ``P ~ N(0, 1/out_dim)`` drawn from a FIXED
    seed (a function of the shapes only) — deterministic across runs,
    shards, and sessions, with the near-orthogonal rows JL needs (the
    LSH integer lattice is too structured for distance preservation).
    Use before ANN indexing or near-dup bucketing when the native
    dimension makes candidate scoring the bottleneck.

    One Arrow pass, shuffle-free; invalid vectors (null/ragged) yield
    NULL projections instead of dropping rows.  Callers that already
    probed the input dimension pass it via ``dim`` to skip the probe
    job (and to pin the dimension on ragged corpora, where two
    independent probes could disagree)."""
    from pyspark.sql.types import ArrayType, DoubleType

    spark = df.sparkSession
    if dim is None:
        dim = _probe_dim(df, vec_col)
    if dim is None:
        return df.withColumn(out_col, F.lit(None).cast("array<double>"))
    rng = np.random.default_rng(1_000_003 * out_dim + dim)
    planes = rng.standard_normal((out_dim, dim)) / np.sqrt(out_dim)
    bc = spark.sparkContext.broadcast(planes)

    @F.pandas_udf(ArrayType(DoubleType()))
    def project(v: pd.Series) -> pd.Series:
        ok = v.map(lambda x: x is not None and len(x) == dim).to_numpy(dtype=bool)
        res: list = [None] * len(v)
        if ok.any():
            m = np.asarray([np.asarray(x, dtype=np.float64) for x in v[ok]])
            y = m @ bc.value.T
            for j, i in enumerate(np.nonzero(ok)[0]):
                res[i] = y[j]
        return pd.Series(res, dtype="object")

    return df.withColumn(out_col, project(F.col(vec_col)))
