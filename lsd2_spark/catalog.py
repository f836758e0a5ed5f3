"""Catalog — the core abstraction: a named, adaptively HEALPix-
partitioned table of sky positions materialized as hive-style Parquet.

Reference semantics: hipscat/catalog.py (query API), hipscat/
partitioner.py (ingest), hipscat/lsd2_io.py:110-125 (layout).  The
layout is byte-compatible with the reference:

    {path}/catalog/Norder={k}/Dir={pix//10000*10000}/Npix={pix}/...parquet
    {path}/neighbor/Norder=...   (margin halo rows, written by margins.py)
    {path}/{name}_meta.json

The metadata JSON is the file index: its ``hips`` map names every leaf
directory, and (an extension to the reference) ``schema`` stores the
Spark read schema.  Cone searches read only the leaf directories their
pixel cover hits, with that schema, so a query neither lists the
catalog nor infers a schema; ``Catalog.df`` discovers the whole root
with the same stored schema.

Spark-first differences (SURVEY.md §3 EP3):
- ingest is ONE shuffle (`repartition(Norder,Npix)` + partitionBy write)
  instead of the reference's write-fragments-then-compact two-pass
  (dask_utils.py:208-318);
- `Dir` is the *correct* integer ``pix//10000*10000`` both as column
  and directory (the reference's data column had a float bug,
  dask_utils.py:99 — documented in SURVEY §4);
- the spatial index `_ID` is a **signed-safe** long:
  ``pix19 * 2^21 + rank`` (order 19, 21 rank bits) — order-preserving
  under LongType, unlike the reference's uint64 order-20 index whose
  faces 8-11 overflow bit 63 (hipscat/util.py:14-69; SURVEY §7 hard
  part 1).  Rank is row_number within the order-19 pixel ordered by
  (ra, dec), matching the reference's lexsort (util.py:32).

At 100 TB: the histogram is one partial-aggregated groupBy whose result
(≤ 12·4^order_k cells, default order 8 → ≤ 786k rows) collects to the
driver for planning; the pixel→leaf map broadcasts back; the write
shuffles once on (Norder, Npix) so each task produces exactly one
bounded cell file.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, replace

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType
from pyspark.sql.window import Window

from lsd2_spark import healpix as hpx
from lsd2_spark.functions.healpix_cols import ang2pix_udf
from lsd2_spark.functions.spherical import gc_dist
from lsd2_spark.plans.partition_map import PartitionMap, compute_partition_map
from lsd2_spark.sources.fs import LOCAL_FS, LifecycleFS

SPATIAL_INDEX_ORDER = 19
RANK_BITS = 21
DEFAULT_ORDER_K = 8
DEFAULT_THRESHOLD = 1_000_000  # reference default, partitioner.py:27
DEFAULT_MARGIN_DEG = 0.1  # reference default, partitioner.py:54


def _dir_of(pix: Column) -> Column:
    return (pix / 10_000).cast("long") * 10_000


def _dir_value(pix: int) -> int:
    """Scalar twin of :func:`_dir_of` for driver-side path building."""
    return (pix // 10_000) * 10_000


def _order_probes(kpix_col: Column, orders: list[int], order_k: int) -> Column:
    """One (Norder, Npix) probe struct per leaf order, derived from the
    order-``order_k`` pixel by hierarchy shift — the shared leaf-probe
    construct of both the initial ingest and the append path (explode
    this array and equi-join the broadcast leaf table)."""
    return F.array(
        *[
            F.struct(
                F.lit(o).cast("int").alias("Norder"),
                F.shiftright(kpix_col, 2 * (order_k - o)).alias("Npix"),
            )
            for o in orders
        ]
    )


# hive partition columns, with the types the writer gives them; pinned
# in every read schema so a scan's types never depend on which leaf
# directories it touches (discovery would type small pixels as int)
PARTITION_FIELDS = (
    StructField("Norder", IntegerType()),
    StructField("Dir", LongType()),
    StructField("Npix", LongType()),
)
PARTITION_COLS = tuple(f.name for f in PARTITION_FIELDS)


def _read_schema(schema: StructType) -> StructType:
    """The schema a scan of the catalog returns for rows written with
    ``schema``: the data columns, nullable as every Parquet scan makes
    them, followed by the pinned partition columns."""
    data = [
        StructField(f.name, f.dataType, True, f.metadata)
        for f in schema.fields
        if f.name not in PARTITION_COLS
    ]
    return StructType(data + list(PARTITION_FIELDS))


@dataclass
class CatalogMetadata:
    cat_name: str
    ra_kw: str
    dec_kw: str
    id_kw: str
    n_sources: int
    pix_threshold: int
    order_k: int
    margin_threshold: float
    hips: dict[int, list[int]]
    # High-water mark for streaming ingest: the last foreachBatch batch_id
    # whose append committed.  None for catalogs never fed by a stream.
    last_batch_id: int | None = None
    # The read schema (see _read_schema): readers pass it to Spark, so no
    # query infers a schema from the files.  None only in metadata
    # written before the field existed; Catalog.load infers it then.
    schema: StructType | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "cat_name": self.cat_name,
                "ra_kw": self.ra_kw,
                "dec_kw": self.dec_kw,
                "id_kw": self.id_kw,
                "n_sources": self.n_sources,
                "pix_threshold": self.pix_threshold,
                "order_k": self.order_k,
                "margin_threshold": self.margin_threshold,
                "hips": {str(k): sorted(v) for k, v in self.hips.items()},
                "last_batch_id": self.last_batch_id,
                "schema": None if self.schema is None else self.schema.jsonValue(),
            },
            indent=2,
        )

    @staticmethod
    def from_json(s: str) -> "CatalogMetadata":
        d = json.loads(s)
        return CatalogMetadata(
            cat_name=d["cat_name"],
            ra_kw=d["ra_kw"],
            dec_kw=d["dec_kw"],
            id_kw=d["id_kw"],
            n_sources=d["n_sources"],
            pix_threshold=d["pix_threshold"],
            order_k=d["order_k"],
            margin_threshold=d.get("margin_threshold", DEFAULT_MARGIN_DEG),
            hips={int(k): list(v) for k, v in d["hips"].items()},
            last_batch_id=d.get("last_batch_id"),
            schema=StructType.fromJson(d["schema"]) if d.get("schema") else None,
        )


def spatial_index_col(order: int, ra: Column, dec: Column) -> Column:
    """Signed-safe spatial index: pix@19 << RANK_BITS + rank-within-pixel.

    Reference analogue: hipscat/util.py:14-69 (``compute_index``).
    Standalone Column form (its own window shuffle on pix@19); the
    ingest path instead piggybacks the rank window on the write
    exchange (see ``_with_spatial_index``) to avoid a second exchange.
    """
    pix = ang2pix_udf(SPATIAL_INDEX_ORDER, ra, dec)
    w = Window.partitionBy(pix).orderBy(ra.asc(), dec.asc())
    rank = F.row_number().over(w).cast("long") - 1
    return (pix * (1 << RANK_BITS) + rank).cast(LongType())


def _with_spatial_index(
    df: DataFrame, ra_col: str, dec_col: str, p19_col: str | None = None
) -> DataFrame:
    """Attach ``_ID`` (pix@19 ‖ rank ordered by ra, dec — the
    reference's lexsort, util.py:32) and leave each (Norder, Npix)
    cell's rows sorted by it, entirely in the JVM.

    The rank window partitions by (Norder, Npix, pix@19); hash
    partitioning on (Norder, Npix) already satisfies that clustered
    distribution, so the window shares the single write exchange —
    same shuffle count as the per-cell pandas kernel this replaces,
    but the full row set no longer round-trips through the Python
    boundary: the only Arrow traffic left is (ra, dec) → pix@19, and
    callers that already carry pix@19 pass ``p19_col`` to skip even
    that.  pix@19 never spans two cells (leaves are ≤ order
    ``order_k`` < 19), so per-cell ranking is globally correct, and
    the window's (cell, pix, ra, dec) sort leaves each cell's rows in
    ``_ID`` order for the partitioned write, as the kernel's lexsort
    did."""
    out_cols = [c for c in df.columns if c != p19_col]
    if p19_col is None:
        p19_col = "_p19"
        df = df.withColumn(
            p19_col,
            ang2pix_udf(SPATIAL_INDEX_ORDER, F.col(ra_col), F.col(dec_col)),
        )
    w = Window.partitionBy("Norder", "Npix", p19_col).orderBy(
        F.col(ra_col).asc(), F.col(dec_col).asc()
    )
    rank = F.row_number().over(w).cast("long") - 1
    spatial_id = F.when(
        rank < F.lit(1 << RANK_BITS),
        F.col(p19_col) * F.lit(1 << RANK_BITS) + rank,
    ).otherwise(
        F.raise_error(F.lit("rank overflow in spatial index: cell too dense"))
    )
    # explicit partition count: an ENSURE_REQUIREMENTS exchange here
    # would be AQE-coalesced by output bytes, serializing the window
    # sort for narrow tables (the few-MB/CPU-heavy trap, guide §2)
    p = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(p, "Norder", "Npix")
        .withColumn("_ID", spatial_id.cast(LongType()))
        .select(*out_cols, "_ID")
    )


def partition_catalog(
    df: DataFrame,
    path: str,
    cat_name: str,
    ra_col: str = "ra",
    dec_col: str = "dec",
    id_col: str = "id",
    threshold: int = DEFAULT_THRESHOLD,
    order_k: int = DEFAULT_ORDER_K,
    margin_threshold: float = DEFAULT_MARGIN_DEG,
    write_margins: bool = True,
    dtype_overrides: dict[str, str] | None = None,
    fs: "LifecycleFS | None" = None,
) -> "Catalog":
    """Ingest: adaptively partition ``df`` by source density and write
    the hive-layout catalog (+ margin ``neighbor/`` dataset + JSON
    metadata).  ``dtype_overrides`` casts columns before ingest
    (reference ``dtypes=`` parameter, partitioner.py:26-37;
    e.g. ``{"libname_gspphot": "string"}``).  One histogram pass +
    one shuffled write
    (vs the reference's cache/write/compact pipeline, EP3 in SURVEY §3).
    """
    spark = df.sparkSession
    if dtype_overrides:
        for c, t in dtype_overrides.items():
            df = df.withColumn(c, F.col(c).cast(t))
    ra, dec = F.col(ra_col), F.col(dec_col)

    # The planning histogram collects ≤ 12·4^order_k rows to the driver —
    # bounded by construction ONLY if order_k stays sane (order 11 →
    # ≤ 50M cells ≈ 800 MB worst case is already the ceiling; order 15
    # would be 12.9G cells and OOM the driver).  Guard the knob.
    if not 0 <= order_k <= 11:
        raise ValueError(
            f"order_k={order_k} out of range [0, 11]: the planning "
            "histogram collects up to 12*4^order_k cells to the driver"
        )

    # Stage 1 — sky histogram (reference partitioner.py:94-133):
    # partial+final agg; ≤ 12·4^order_k groups; collected for planning.
    # spread the (narrow) position projection first: a few-file local
    # input otherwise runs the Arrow pixelization in a handful of tasks;
    # the repartition moves only two doubles per row and is a no-op for
    # well-partitioned inputs
    from lsd2_spark.operators.common import spread_partitions

    hist = (
        spread_partitions(df.select(ra.alias("_ra"), dec.alias("_dec")))
        .select(ang2pix_udf(order_k, F.col("_ra"), F.col("_dec")).alias("kpix"))
        .groupBy("kpix")
        .count()
        .collect()
    )
    null_rows = sum(r["count"] for r in hist if r["kpix"] is None)
    if null_rows:
        # detected for free in the planning histogram (NULL coords
        # pixelize to a NULL group) — fail fast with a clear contract
        # instead of a TypeError deep in driver planning
        raise ValueError(
            f"{null_rows} input row(s) have NULL {ra_col}/{dec_col}; "
            "spatial ingest requires coordinates — filter them out "
            f"(e.g. .filter('{ra_col} IS NOT NULL AND {dec_col} IS NOT NULL'))"
        )
    kpix = np.array([r["kpix"] for r in hist], dtype=np.int64)
    counts = np.array([r["count"] for r in hist], dtype=np.int64)
    n_sources = int(counts.sum())

    # Stage 2 — adaptive partition map (driver planning)
    pm = compute_partition_map(kpix, counts, order_k, threshold)

    # Stage 3 — per-row leaf assignment + ONE shuffled partitioned
    # write (replaces reference EP3 stages 3-4).  Assignment uses the
    # same multi-order probe the append path uses: broadcast only the
    # LEAF table (one row per leaf cell), shift each row's order_k
    # pixel up to every leaf order, and equi-join — the leaf set is
    # orders of magnitude smaller than the kpix→leaf map (36 vs 47k at
    # bench scale), whose per-action re-serialization from driver
    # Python dominated ingest wall time.
    orders = sorted(pm.hips)
    leaf_tbl = F.broadcast(
        spark.createDataFrame(
            [(int(o), int(p)) for o in orders for p in pm.hips[o]],
            "Norder int, Npix long",
        )
    )
    # spread the write-path scan too: the map side of the groupBy
    # shuffle (Arrow pixelization + probe join) otherwise runs in
    # however few tasks the input arrived as — a no-op at scale,
    # a 10× parallelism win for few-file local inputs
    # pixelize ONCE at the index order; the probe pixel is an exact
    # hierarchy shift of it (the same property _order_probes uses), so
    # the write path pays a single narrow Arrow pass and the spatial
    # index below reuses the pixel instead of re-deriving it
    assigned = (
        spread_partitions(df)
        .withColumn("_p19", ang2pix_udf(SPATIAL_INDEX_ORDER, ra, dec))
        .withColumn(
            "_kpix",
            F.shiftright(F.col("_p19"), 2 * (SPATIAL_INDEX_ORDER - order_k)),
        )
        .withColumn("_pr", F.explode(_order_probes(F.col("_kpix"), orders, order_k)))
        .select(
            *df.columns,
            "_p19",
            F.col("_pr.Norder").alias("Norder"),
            F.col("_pr.Npix").alias("Npix"),
        )
        .join(leaf_tbl, ["Norder", "Npix"])  # leaves partition the
        # observed sky, so each row survives for exactly one probe
        .withColumn("Dir", _dir_of(F.col("Npix")))
    )
    indexed = _with_spatial_index(assigned, ra_col, dec_col, p19_col="_p19")
    (
        indexed.write.mode("overwrite")
        .partitionBy("Norder", "Dir", "Npix")
        .parquet(f"{path}/catalog")
    )

    meta = CatalogMetadata(
        cat_name=cat_name,
        ra_kw=ra_col,
        dec_kw=dec_col,
        id_kw=id_col,
        n_sources=n_sources,
        pix_threshold=threshold,
        order_k=order_k,
        margin_threshold=margin_threshold,
        hips=pm.hips,
        schema=_read_schema(indexed.schema),
    )
    fs = fs or LOCAL_FS
    fs.makedirs(path)
    fs.publish(f"{path}/{cat_name}_meta.json", meta.to_json())

    cat = Catalog(spark, path, meta, fs=fs)
    if write_margins:
        from lsd2_spark.operators.margins import write_margin_dataset

        write_margin_dataset(df, cat, ra_col=ra_col, dec_col=dec_col)
    return cat


def ingest_catalog(
    spark: SparkSession,
    source: str,
    fmt: str,
    path: str,
    cat_name: str,
    ra_col: str = "ra",
    dec_col: str = "dec",
    id_col: str = "id",
    column_keys: dict[str, int] | None = None,
    cache_dir: str | None = None,
    **partition_kwargs,
) -> "Catalog":
    """End-to-end ingest from raw files (reference EP3,
    partitioner.py:81-91): read csv/csv.gz/parquet/fits → optional
    Parquet staging cache (S6) → adaptive partitioned write."""
    from lsd2_spark.sources import readers

    if fmt in ("csv", "csv.gz"):
        df = readers.read_csv(spark, source, header=column_keys is None,
                              column_keys=column_keys)
    elif fmt == "parquet":
        df = spark.read.parquet(source)
    elif fmt == "fits":
        df = readers.read_fits_tables(spark, source)
    else:
        raise ValueError(f"unsupported ingest format {fmt}")
    if cache_dir is not None:
        df = readers.cache_inputs(df, cache_dir)
    return partition_catalog(
        df, path, cat_name, ra_col=ra_col, dec_col=dec_col, id_col=id_col,
        **partition_kwargs,
    )


class Catalog:
    """Query API over a partitioned catalog (reference hipscat/catalog.py)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        meta: CatalogMetadata,
        fs: "LifecycleFS | None" = None,
    ):
        self.spark = spark
        self.path = path
        self.meta = meta
        # the lifecycle layer's filesystem (censuses, intent markers,
        # roll-forward moves) — injectable so object-store deployments
        # and fault-injection tests swap the POSIX default out; the
        # data plane (parquet scans/writes) goes through Spark's own
        # Hadoop FileSystem regardless (sources/fs.py)
        self._fs = fs or LOCAL_FS
        # True when the schema came from the files, not the metadata
        # (a catalog written before the metadata stored it); fsck's
        # repair persists it
        self._schema_inferred = False

    # -- loading ------------------------------------------------------------

    @staticmethod
    def load(
        spark: SparkSession,
        path: str,
        cat_name: str | None = None,
        fs: "LifecycleFS | None" = None,
    ) -> "Catalog":
        fs = fs or LOCAL_FS
        if cat_name is None:
            metas = [f for f in fs.listdir(path) if f.endswith("_meta.json")]
            assert len(metas) == 1, f"ambiguous catalog dir {path}: {metas}"
            meta_file = metas[0]
        else:
            meta_file = f"{cat_name}_meta.json"
        meta = CatalogMetadata.from_json(fs.read_text(f"{path}/{meta_file}"))
        cat = Catalog(spark, path, meta, fs=fs)
        cat._schema()  # once per load: the catalogs its mutations return carry it
        return cat

    def _schema(self) -> StructType:
        """The stored read schema; inferred from the files (and kept on
        this handle) for metadata written before it was stored."""
        if self.meta.schema is None:
            inferred = self.spark.read.parquet(f"{self.path}/catalog").schema
            self.meta = replace(self.meta, schema=_read_schema(inferred))
            self._schema_inferred = True
        return self.meta.schema

    def _leaf_dir(self, order: int, pix: int) -> str:
        return f"{self.path}/catalog/Norder={order}/Dir={_dir_value(pix)}/Npix={pix}"

    def _scan(self, leaves: list[tuple[int, int]] | None = None) -> DataFrame:
        """The one catalog reader, always with the stored schema (no
        schema-inference job).  ``leaves=None`` discovers every leaf
        under the root; otherwise exactly the listed ``(Norder, Npix)``
        leaf directories are read and nothing else is listed."""
        root = f"{self.path}/catalog"
        schema = self._schema()
        reader = self.spark.read.schema(schema).option("basePath", root)
        if leaves is None:
            return reader.parquet(root)
        if not leaves:
            # the always-false filter folds to an empty local relation,
            # which collects without a Spark job
            return self.spark.createDataFrame([], schema).filter(F.lit(False))
        dirs = [self._leaf_dir(o, p) for o, p in leaves]
        try:
            return reader.parquet(*dirs)
        except AnalysisException as e:
            missing = [lf for lf, d in zip(leaves, dirs) if not self._fs.isdir(d)]
            if not missing:
                raise
            raise FileNotFoundError(
                f"catalog '{self.meta.cat_name}': the metadata lists leaf "
                f"(Norder, Npix) {missing[0]} but {self._leaf_dir(*missing[0])} "
                f"is missing ({len(missing)} missing leaf dir(s) in this read); "
                "run Catalog.fsck() to compare the metadata with the disk, "
                "fsck(repair=True) to rewrite it from the disk"
            ) from e

    def _project(self, df: DataFrame, columns: list[str] | None) -> DataFrame:
        return df if columns is None else df.select(*self._with_required(columns))

    def df(self, columns: list[str] | None = None) -> DataFrame:
        """The catalog as a lazy DataFrame over every leaf on disk (root
        discovery, so cells the metadata does not list are visible —
        :meth:`fsck` relies on that).  The schema is the one the
        metadata stores: data columns, then the hive partition columns
        ``Norder`` int, ``Dir`` long, ``Npix`` long, on which filters
        prune at the file level."""
        return self._project(self._scan(), columns)

    def margin_df(self) -> DataFrame | None:
        p = f"{self.path}/neighbor"
        if not self._fs.exists(p):
            return None
        return self.spark.read.parquet(p)

    def append(self, df: DataFrame, batch_id: int | None = None) -> "Catalog":
        """Incremental ingest (extension — the reference can only
        re-import from scratch): append rows to an existing catalog.

        - new rows are assigned to the EXISTING leaves via the same
          one-pass multi-order probe the cross-match planner uses (one
          broadcast join, no histogram re-scan);
        - rows outside the original sky coverage open new leaves at
          ``order_k`` (recorded in the metadata);
        - only the touched cells are re-ranked (their existing rows are
          re-read pruned, merged, and re-indexed so ``_ID`` stays the
          global rank-within-pixel) and rewritten with DYNAMIC partition
          overwrite — untouched cells are never read or written;
        - new halo rows append to ``neighbor/`` if margins exist.

        Leaves are NOT re-split: a cell pushed past ``pix_threshold``
        warns (re-import to re-balance), matching the density contract.

        Contract: the incoming batch's id column must be unique within
        the batch (the covered/uncovered split anti-joins on it).

        Concurrent readers: dynamic partition overwrite REPLACES the
        files of touched cells, so a DataFrame resolved before an
        append is NOT snapshot-isolated — its next action either fails
        on the deleted files or observes post-append state (never a
        duplicated/partial mix; the overwrite is cell-atomic per
        partition directory).  A cone search resolves its leaf set
        from the metadata its Catalog handle was loaded with: a
        pre-append handle never sees the append's NEW leaves (rows
        landing in existing leaves it does see).  Re-resolve via
        :meth:`Catalog.load` / the returned catalog after appends; for
        true snapshot isolation under concurrent writers at scale,
        layer a transactional table format over the same layout.

        Reads: the schema check uses the stored schema, and only the
        touched leaves that already exist are read (before the write)
        and recounted (after it) — the catalog is never listed.

        ``batch_id`` (streaming ingest): Structured Streaming's
        ``foreachBatch`` re-delivers the last uncommitted batch after a
        crash/restart.  Batches are applied serially with monotonically
        increasing ids, so exactly-once reduces to a high-water-mark
        check: the last committed ``batch_id`` is persisted in the
        catalog metadata (read from the COMMITTED on-disk file, not the
        in-memory copy, so a fresh writer after restart still sees it)
        and a replayed ``batch_id <= last_batch_id`` is a no-op.  The
        metadata file is written via atomic rename, so a crash between
        the data overwrite and the metadata commit leaves the old
        high-water mark in place and the replayed batch re-runs the
        same dynamic partition overwrite — the touched cells are
        rewritten from (untouched existing ∪ batch), which converges to
        the same bytes.  The halo append happens BEFORE the metadata
        commit (a torn halo write is retried idempotently on replay;
        after the commit it could never be retried), and a write-ahead
        intent marker records the pre-batch touched-cell row count so
        ``n_sources`` stays exact even when the replay recounts cells
        that already contain the torn-written batch.
        """
        # Converge any crashed delete/rebalance FIRST, exactly as
        # delete() and rebalance() do at entry: in the window after a
        # rebalance wrote its 'done' marker but before its metadata
        # commit, the committed coverage map still lists the split
        # parents — an append planned against it would write the batch
        # into parent directories that the next reconciliation rolls
        # forward and REMOVES, silently losing the rows (and a stale
        # delete marker's recorded committed_n_sources would stop
        # reflecting the intervening append).
        if self._fs.exists(self._rebalance_intent_path()):
            return self._reconcile_rebalance_intent().append(df, batch_id=batch_id)
        if self._fs.exists(self._delete_intent_path()):
            return self._reconcile_delete_intent().append(df, batch_id=batch_id)
        if self._fs.exists(self._compact_intent_path()):
            return self._reconcile_compact_intent().append(df, batch_id=batch_id)
        spark = self.spark
        meta = self.meta
        # Fail fast on schema drift: the touched-cell rewrite writes
        # (existing ∪ batch) projected to the BATCH's columns, so a
        # batch missing a column would silently drop that column from
        # every rewritten cell, and an extra column fails later with a
        # cryptic resolve error.  Additive evolution is a re-import.
        cat_cols = [
            f.name for f in self._schema().fields
            if f.name not in (*PARTITION_COLS, "_ID")
        ]
        missing = [c for c in cat_cols if c not in df.columns]
        extra = [c for c in df.columns if c not in cat_cols]
        if missing or extra:
            raise ValueError(
                f"append schema mismatch vs catalog '{meta.cat_name}': "
                f"missing columns {missing}, unexpected columns {extra}; "
                f"expected exactly {cat_cols}"
            )
        if batch_id is not None:
            committed = Catalog.load(spark, self.path, meta.cat_name).meta
            if (
                committed.last_batch_id is not None
                and batch_id <= committed.last_batch_id
            ):
                return Catalog(spark, self.path, committed, fs=self._fs)
            # Replay after a torn commit: restart from the durable state so
            # `existing` below reflects what is actually on disk.
            meta = committed
        order_k = meta.order_k
        ra, dec = F.col(meta.ra_kw), F.col(meta.dec_kw)

        orders = sorted(meta.hips)
        # probe at the FINEST coverage order: rebalance can leave leaves
        # finer than order_k, and _order_probes only shifts DOWN (a
        # negative shift would be masked mod 64 into garbage and the
        # fine leaves would silently never match)
        probe_order = max([order_k, *orders])
        leaf_tbl = F.broadcast(
            spark.createDataFrame(
                [(int(o), int(p)) for o in orders for p in meta.hips[o]],
                "Norder int, Npix long",
            )
        )
        withk = df.withColumn("_kpix", ang2pix_udf(probe_order, ra, dec))
        cand = withk.withColumn(
            "_pr", F.explode(_order_probes(F.col("_kpix"), orders, probe_order))
        ).select(
            *df.columns, "_kpix", F.col("_pr.Norder").alias("Norder"),
            F.col("_pr.Npix").alias("Npix"),
        )
        hit = cand.join(leaf_tbl, ["Norder", "Npix"])  # leaves partition the
        # covered sky, so each row matches at most one leaf
        # New leaves for rows outside the coverage open at order_k —
        # EXCEPT where the row's order_k pixel already contains finer
        # coverage leaves (possible after a rebalance): an order_k leaf
        # there would spatially overlap them, and a later rebalance's
        # dynamic overwrite of its children would clobber those cells.
        # Such rows open their leaf at the finest descendant order
        # instead, which is disjoint from every existing leaf by
        # construction (no coverage exists below that order there).
        req: dict[int, int] = {}
        for o2 in orders:
            if o2 <= order_k:
                continue
            for q in meta.hips[o2]:
                anc = q >> (2 * (o2 - order_k))
                req[anc] = max(req.get(anc, order_k), o2)
        kp_at = lambda o: F.shiftright(  # noqa: E731
            F.col("_kpix"), 2 * (probe_order - o)
        )
        new_order = F.lit(order_k).cast("int")
        new_pix = kp_at(order_k)
        if req:
            req_tbl = F.broadcast(
                spark.createDataFrame(
                    [(int(a), int(o)) for a, o in req.items()],
                    "_anc long, _req int",
                )
            )
        missed = withk.join(
            hit.select(meta.id_kw), meta.id_kw, "left_anti"
        )
        if req:
            missed = missed.join(
                req_tbl, kp_at(order_k) == F.col("_anc"), "left"
            )
            new_order = F.coalesce(F.col("_req"), F.lit(order_k)).cast("int")
            # variable-shift: build a CASE over the few required orders
            new_pix = kp_at(order_k)
            for o2 in sorted({v for v in req.values()}):
                new_pix = F.when(F.col("_req") == o2, kp_at(o2)).otherwise(new_pix)
        missed = missed.select(
            *df.columns, "_kpix",
            new_order.alias("Norder"),
            new_pix.alias("Npix"),
        )
        assigned = (
            hit.unionByName(missed)
            .drop("_kpix")
            .withColumn("Dir", _dir_of(F.col("Npix")))
        ).cache()

        # ONE plan-sized collect (cell → count) yields the touched-cell
        # list, the batch row count, and — by subtracting the known leaf
        # set — the new leaves; previously three separate driver jobs
        # per batch, a real latency tax on streaming micro-batches.
        cell_counts = assigned.groupBy("Norder", "Npix").count().collect()
        touched = [(int(r["Norder"]), int(r["Npix"])) for r in cell_counts]
        n_new = int(sum(r["count"] for r in cell_counts))
        known = {(o, p) for o, pixs in meta.hips.items() for p in pixs}
        new_leaves = [c for c in touched if c not in known]
        new_set = set(new_leaves)

        # merge touched cells' existing rows with the new ones: read
        # exactly the touched leaves already on disk, never list the
        # catalog.  A new leaf normally has no directory yet; one that
        # does holds rows appended through a newer handle of this
        # catalog (or a torn attempt of this batch), which the merge
        # must keep.
        data_cols = list(df.columns)
        on_disk = [
            c for c in touched
            if c not in new_set or self._fs.isdir(self._leaf_dir(*c))
        ]
        existing = self._scan(on_disk).select(*data_cols, "Norder", "Npix", "Dir")
        # Row-level idempotence: drop any existing rows that share an id
        # with the batch (a broadcast anti-join — the batch id set is
        # small relative to the catalog).  Under the globally-unique-id
        # contract this is a no-op in normal operation; after a torn
        # streaming commit (data overwritten, metadata not) it makes the
        # replayed overwrite converge to the same bytes instead of
        # duplicating the batch.
        batch_ids = F.broadcast(df.select(meta.id_kw).distinct())
        marked = existing.join(
            batch_ids.withColumn("_inb", F.lit(1)), meta.id_kw, "left"
        )
        crow = marked.agg(
            F.count(F.lit(1)).alias("n"), F.count("_inb").alias("r")
        ).collect()[0]
        disk_touched, n_replaced = int(crow["n"]), int(crow["r"])
        existing = existing.join(batch_ids, meta.id_kw, "left_anti")
        merged = existing.unionByName(assigned.select(*existing.columns))

        # n_sources accounting must survive a torn-commit replay: after a
        # crash between the data overwrite and the metadata commit, the
        # batch rows are already on disk, so recounting the touched cells
        # sees them and `n - n_replaced` would cancel the batch out of the
        # total.  A write-ahead intent marker (atomic rename, keyed by
        # batch_id) records the touched-cell row count BEFORE the first
        # data write; replay reads the marker instead of trusting the
        # (possibly torn) disk state, and
        #   n_sources = committed + rows_after_touched - rows_before_touched
        # is exact in every crash window.
        pre_touched = disk_touched
        intent_path = f"{self.path}/{meta.cat_name}_append_intent.json"
        if batch_id is not None:
            intent = None
            if self._fs.exists(intent_path):
                try:
                    intent = json.loads(self._fs.read_text(intent_path))
                except (OSError, ValueError):
                    intent = None
            if intent is not None and intent.get("batch_id") == batch_id:
                pre_touched = int(intent["pre_touched"])
            else:
                self._fs.publish(
                    intent_path,
                    json.dumps(
                        {"batch_id": batch_id, "pre_touched": disk_touched}
                    ),
                )

        indexed = _with_spatial_index(merged, meta.ra_kw, meta.dec_kw)
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                indexed.write.mode("overwrite")
                .partitionBy("Norder", "Dir", "Npix")
                .parquet(f"{self.path}/catalog")
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

        hips = {o: list(ps) for o, ps in meta.hips.items()}
        for o, p in new_leaves:  # distinct, and none of them known
            hips.setdefault(o, []).append(p)
        hips = {o: sorted(ps) for o, ps in hips.items()}
        # rows now on disk in the touched cells = (existing - replaced) + new
        n_after_touched = disk_touched - n_replaced + n_new
        new_meta = replace(
            meta,
            n_sources=meta.n_sources + n_after_touched - pre_touched,
            hips=hips,
            last_batch_id=batch_id if batch_id is not None else meta.last_batch_id,
        )
        cat = Catalog(spark, self.path, new_meta, fs=self._fs)

        # The halo append must land BEFORE the metadata commit: once the
        # high-water mark is committed a replay no-ops, so margin rows
        # written after it would be lost forever on a crash in between.
        # Written before, a torn halo write is simply retried on replay —
        # the (id, Norder, Npix) anti-join makes the retry idempotent.
        if self._fs.exists(f"{self.path}/neighbor"):
            from lsd2_spark.operators.margins import margin_rows

            halo = margin_rows(df, cat, ra_col=meta.ra_kw, dec_col=meta.dec_kw)
            if halo is not None:
                prev_halo = spark.read.parquet(f"{self.path}/neighbor").select(
                    meta.id_kw, "Norder", "Npix"
                )
                halo = halo.join(
                    prev_halo.join(batch_ids, meta.id_kw, "left_semi"),
                    [meta.id_kw, "Norder", "Npix"],
                    "left_anti",
                )
                (
                    halo.withColumn("Dir", _dir_of(F.col("Npix")))
                    .repartition("Norder", "Npix")
                    .write.mode("append")
                    .partitionBy("Norder", "Dir", "Npix")
                    .parquet(f"{self.path}/neighbor")
                )

        # Atomic rename: the metadata file IS the commit record (it carries
        # the streaming high-water mark), so it must never be observable
        # half-written.  Everything above (data overwrite, halo append) is
        # idempotent under replay; this rename is the commit point.
        self._commit_meta(new_meta)
        if batch_id is not None:
            try:
                self._fs.remove(intent_path)
            except FileNotFoundError:
                pass

        over = (
            cat._scan(touched)
            .groupBy("Norder", "Npix")
            .count()
            .filter(F.col("count") > meta.pix_threshold)
            .count()
        )
        if over:
            import warnings

            warnings.warn(
                f"{over} cell(s) now exceed pix_threshold="
                f"{meta.pix_threshold} after append; run rebalance() to "
                "split them in place",
                stacklevel=2,
            )
        assigned.unpersist()
        return cat

    def _delete_intent_path(self) -> str:
        return f"{self.path}/{self.meta.cat_name}_delete_intent.json"

    def _purge_halo_orphans(self) -> None:
        """Remove ``neighbor/`` rows whose source id no longer exists in
        the catalog (full live-id ``left_anti`` join — the fallback and
        crash-recovery path; the common case predicate-pushes instead,
        see :meth:`delete`)."""
        spark, meta = self.spark, self.meta
        if not self._fs.exists(f"{self.path}/neighbor"):
            return
        neigh = spark.read.parquet(f"{self.path}/neighbor")
        live_ids = self.df([meta.id_kw]).select(meta.id_kw)
        halo_touched = [
            (int(r["Norder"]), int(r["Npix"]))
            for r in neigh.join(live_ids, meta.id_kw, "left_anti")
            .select("Norder", "Npix")
            .distinct()
            .collect()
        ]
        if not halo_touched:
            return
        hk = F.col("Norder").cast("long") * F.lit(1 << 40) + F.col(
            "Npix"
        ).cast("long")
        hpred = hk.isin([(o << 40) + p for o, p in halo_touched])
        halo_keep = (
            neigh.filter(hpred)
            .join(live_ids, meta.id_kw, "left_semi")
            .withColumn("Dir", F.col("Dir").cast("long"))
        )
        self._overwrite_halo_cells(halo_keep, halo_touched)

    def _overwrite_halo_cells(self, halo_keep, halo_touched) -> None:
        """Dynamic-overwrite the kept halo rows and remove emptied halo
        partition directories."""
        spark = self.spark
        halo_survivors = {
            (int(r["Norder"]), int(r["Npix"]))
            for r in halo_keep.groupBy("Norder", "Npix").count().collect()
        }
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                halo_keep.write.mode("overwrite")
                .partitionBy("Norder", "Dir", "Npix")
                .parquet(f"{self.path}/neighbor")
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
        for o, p in halo_touched:
            if (o, p) not in halo_survivors:
                d = int(_dir_value(p))
                self._fs.rmtree(
                    f"{self.path}/neighbor/Norder={o}/Dir={d}/Npix={p}"
                )

    def _commit_meta(self, new_meta: "CatalogMetadata") -> None:
        """Atomic-rename metadata commit (the commit point)."""
        meta_path = f"{self.path}/{new_meta.cat_name}_meta.json"
        self._fs.publish(meta_path, new_meta.to_json())

    def _reconcile_delete_intent(self) -> "Catalog":
        """Converge a crashed delete.  The write-ahead intent marker
        records the touched cells, their pre-delete row count, and the
        committed ``n_sources``; whatever crash window the previous
        delete died in (before, during, or after the data overwrite),
        recounting the marker cells on disk gives

            n_sources = committed + rows_now_in_cells - pre_touched

        exactly — the same accounting append uses.  Emptied directories,
        the coverage map, and orphaned halo rows are re-derived from the
        disk state; every step is idempotent, so a crash during
        reconciliation just reconciles again."""
        spark, meta = self.spark, self.meta
        intent_path = self._delete_intent_path()
        try:
            intent = json.loads(self._fs.read_text(intent_path))
        except (OSError, ValueError):
            try:
                self._fs.remove(intent_path)
            except FileNotFoundError:
                pass
            return self
        touched = [(int(o), int(p)) for o, p in intent["touched"]]
        pre_touched = int(intent["pre_touched"])
        committed = int(intent["committed_n_sources"])

        cell_key = F.col("Norder").cast("long") * F.lit(1 << 40) + F.col(
            "Npix"
        ).cast("long")
        touched_pred = cell_key.isin([(o << 40) + p for o, p in touched])
        now = (
            self.df()
            .filter(touched_pred)
            .groupBy("Norder", "Npix")
            .count()
            .collect()
        )
        after_touched = int(sum(r["count"] for r in now))
        survivors = {(int(r["Norder"]), int(r["Npix"])) for r in now}

        hips = {o: sorted(ps) for o, ps in meta.hips.items()}
        for o, p in touched:
            if (o, p) in survivors:
                continue
            self._fs.rmtree(self._leaf_dir(o, p))
            if o in hips and p in hips[o]:
                hips[o] = [x for x in hips[o] if x != p]
                if not hips[o]:
                    del hips[o]

        new_meta = replace(
            meta, n_sources=committed + after_touched - pre_touched, hips=hips
        )
        cat = Catalog(spark, self.path, new_meta, fs=self._fs)
        cat._purge_halo_orphans()
        cat._commit_meta(new_meta)
        try:
            self._fs.remove(intent_path)
        except FileNotFoundError:
            pass
        return cat

    def delete(self, predicate: "str | Column") -> "Catalog":
        """Delete matching rows (the privacy / right-to-be-forgotten
        pass a training-data catalog needs; the reference can only
        re-import).  Only cells containing matches are re-read,
        re-ranked, and rewritten via dynamic partition overwrite;
        fully-emptied cells have their partition directories removed
        (dynamic overwrite cannot clear a partition it emits no rows
        for) and leave the coverage map.  Matching sources' halo rows
        are purged from ``neighbor/`` the same way — by pushing the
        SAME predicate down to the halo scan when its columns exist in
        the halo schema (halo rows carry the source columns, so this is
        the common case and touches only matching halo cells); only a
        predicate over columns the halo lacks falls back to the
        full-catalog live-id anti-join.

        NULL predicate rows are KEPT (a predicate that cannot decide a
        row must not delete it): match accounting counts only
        pred=TRUE rows and the keep filter uses NOT coalesce(pred,
        FALSE), so both sides agree.

        Crash safety mirrors ``append``: a write-ahead intent marker
        (atomic rename, written before the first data mutation) records
        the touched cells, their pre-delete row count, and the
        committed ``n_sources``.  The metadata rename is the commit
        point; a crash anywhere before it leaves the marker in place,
        and the next ``delete`` (or ``fsck(repair=True)``) replays it —
        recounting the marker cells makes ``n_sources``, the coverage
        map, emptied directories, and halo orphans converge in every
        crash window.
        """
        spark = self.spark
        # a stale marker from EITHER crashed mutation must converge
        # before this one reads disk state: a half-finished rebalance
        # leaves rows duplicated across parent+child dirs (match counts
        # would double), and vice versa a half-finished delete leaves
        # n_sources accounting open
        if self._fs.exists(self._rebalance_intent_path()):
            return self._reconcile_rebalance_intent().delete(predicate)
        if self._fs.exists(self._delete_intent_path()):
            return self._reconcile_delete_intent().delete(predicate)
        if self._fs.exists(self._compact_intent_path()):
            return self._reconcile_compact_intent().delete(predicate)
        meta = self.meta
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        pred_true = F.coalesce(pred, F.lit(False))

        # plan-sized: per-cell match counts -> touched cells + n_deleted
        match_counts = (
            self.df().filter(pred_true).groupBy("Norder", "Npix").count().collect()
        )
        if not match_counts:
            return self
        touched = [(int(r["Norder"]), int(r["Npix"])) for r in match_counts]
        n_deleted = int(sum(r["count"] for r in match_counts))

        cell_key = F.col("Norder").cast("long") * F.lit(1 << 40) + F.col(
            "Npix"
        ).cast("long")
        touched_pred = cell_key.isin([(o << 40) + p for o, p in touched])
        keep = self.df().filter(touched_pred).filter(~pred_true)
        data_cols = [
            c for c in keep.columns if c not in ("Norder", "Dir", "Npix", "_ID")
        ]
        keep = keep.select(
            *data_cols,
            F.col("Norder").cast("int").alias("Norder"),
            F.col("Npix").cast("long").alias("Npix"),
            F.col("Dir").cast("long").alias("Dir"),
        )

        # write-ahead intent: BEFORE the first mutation, so any crash
        # below is replayable (pre_touched = keep + deleted, counted
        # from the same snapshot the keep-plan reads)
        intent_path = self._delete_intent_path()
        keep_counts = keep.groupBy("Norder", "Npix").count().collect()
        n_kept = int(sum(r["count"] for r in keep_counts))
        self._fs.publish(
            intent_path,
            json.dumps(
                {
                    "touched": sorted(touched),
                    "pre_touched": n_kept + n_deleted,
                    "committed_n_sources": meta.n_sources,
                }
            ),
        )

        indexed = _with_spatial_index(keep, meta.ra_kw, meta.dec_kw)
        survivors = {(int(r["Norder"]), int(r["Npix"])) for r in keep_counts}
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                indexed.write.mode("overwrite")
                .partitionBy("Norder", "Dir", "Npix")
                .parquet(f"{self.path}/catalog")
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

        hips = {o: sorted(ps) for o, ps in meta.hips.items()}
        for o, p in touched:
            if (o, p) in survivors:
                continue
            self._fs.rmtree(self._leaf_dir(o, p))
            if o in hips and p in hips[o]:
                hips[o] = [x for x in hips[o] if x != p]
                if not hips[o]:
                    del hips[o]

        # purge halo rows of deleted sources.  Fast path: halo rows
        # carry the source columns, so when the predicate analyzes
        # against the halo schema, filter neighbor/ directly — a
        # predicate-pushed scan touching only matching halo cells, no
        # full-catalog id scan, no catalog-sized shuffle join.
        if self._fs.exists(f"{self.path}/neighbor"):
            neigh = spark.read.parquet(f"{self.path}/neighbor")
            # pushdown is safe ONLY for predicates over source data
            # columns: Norder/Dir/Npix/_ID in neighbor/ are the HALO
            # cell's coordinates, not the source's home cell, so a
            # predicate touching them means something different there.
            # Probe analysis against the stripped (source-columns-only)
            # view; failure -> structural/unknown reference -> fallback.
            halo_pred = None
            from pyspark.sql.types import StructType as _ST

            src_schema = _ST(
                [f for f in neigh.schema.fields
                 if f.name not in ("Norder", "Dir", "Npix", "_ID")]
            )
            # probe against a lineage-free empty relation: a projection
            # of neigh would NOT fail analysis (Spark resolves missing
            # filter references through a Project), but a LocalRelation
            # only exposes its own schema
            probe = spark.createDataFrame([], src_schema)
            try:
                halo_pred = F.coalesce(pred, F.lit(False))
                probe.filter(halo_pred).schema  # force analysis
            except Exception:
                halo_pred = None
            if halo_pred is not None:
                halo_touched = [
                    (int(r["Norder"]), int(r["Npix"]))
                    for r in neigh.filter(halo_pred)
                    .select("Norder", "Npix")
                    .distinct()
                    .collect()
                ]
                if halo_touched:
                    hk = F.col("Norder").cast("long") * F.lit(1 << 40) + F.col(
                        "Npix"
                    ).cast("long")
                    hcells = hk.isin([(o << 40) + p for o, p in halo_touched])
                    halo_keep = (
                        neigh.filter(hcells)
                        .filter(~halo_pred)
                        .withColumn("Dir", F.col("Dir").cast("long"))
                    )
                    self._overwrite_halo_cells(halo_keep, halo_touched)
            else:
                # predicate references columns the halo schema lacks:
                # fall back to the live-id anti-join (correct, heavier)
                Catalog(spark, self.path, meta, fs=self._fs)._purge_halo_orphans()

        new_meta = replace(meta, n_sources=meta.n_sources - n_deleted, hips=hips)
        self._commit_meta(new_meta)
        try:
            self._fs.remove(intent_path)
        except FileNotFoundError:
            pass
        return Catalog(spark, self.path, new_meta, fs=self._fs)

    def _rebalance_intent_path(self) -> str:
        return f"{self.path}/{self.meta.cat_name}_rebalance_intent.json"

    def _rebalance_children_of(self, o: int, p: int, o2: int) -> "tuple[int, int]":
        """Child pixel range [lo, hi) of parent (o, p) at order o2."""
        shift = 2 * (o2 - o)
        return p << shift, (p + 1) << shift

    def _reconcile_rebalance_intent(self) -> "Catalog":
        """Converge a crashed rebalance.  Two-phase marker protocol:

        - phase ``pre`` (written before any mutation): child writes may
          be torn → ROLL BACK: remove any child partition directories
          under the planned splits (the parents were never touched) and
          drop the marker.
        - phase ``done`` (written only after the child rewrite fully
          committed): ROLL FORWARD: remove parent data directories,
          rebuild the children's halos where the parent halo source
          material still exists, commit the recorded coverage, drop the
          marker.  Every step is idempotent."""
        spark, meta = self.spark, self.meta
        path = self._rebalance_intent_path()
        try:
            intent = json.loads(self._fs.read_text(path))
        except (OSError, ValueError):
            try:
                self._fs.remove(path)
            except FileNotFoundError:
                pass
            return self
        splits = [(int(o), int(p)) for o, p in intent["splits"]]
        planned = [(int(o), int(p)) for o, p in intent["child_cells"]]
        if intent.get("phase") == "pre":
            # rollback: drop any (possibly partial) planned child dirs —
            # all strict descendants of the over parents, so they can
            # never collide with a pre-existing cell directory
            for o2, cp in planned:
                self._fs.rmtree(self._leaf_dir(o2, cp))
            self._fs.remove(path)
            return Catalog(spark, self.path, meta, fs=self._fs)

        # phase == done: roll forward
        child_cells = planned
        self._rebalance_finish(splits, child_cells)
        hips = {o: sorted(ps) for o, ps in meta.hips.items()}
        for o, p in splits:
            if o in hips and p in hips[o]:
                hips[o] = [x for x in hips[o] if x != p]
                if not hips[o]:
                    del hips[o]
        for o2, cp in child_cells:
            hips.setdefault(o2, [])
            if cp not in hips[o2]:
                hips[o2] = sorted(hips[o2] + [cp])
        new_meta = replace(meta, hips=hips)
        self._commit_meta(new_meta)
        try:
            self._fs.remove(path)
        except FileNotFoundError:
            pass
        return Catalog(spark, self.path, new_meta, fs=self._fs)

    def _rebalance_finish(self, splits, child_cells) -> None:
        """Post-done-marker work (idempotent): remove parent data dirs,
        rebuild child halos where parent halo material remains, remove
        parent halo dirs."""
        spark, meta = self.spark, self.meta
        # child halo rebuild BEFORE parent-dir removals would be ideal,
        # but candidates need the parent halo rows which live in
        # neighbor/, not catalog/ — so parent DATA dirs can go first.
        for o, p in splits:
            self._fs.rmtree(self._leaf_dir(o, p))
        if not self._fs.exists(f"{self.path}/neighbor") or not child_cells:
            return
        # halo material: the rewritten child rows (same physical rows)
        # plus the old parent halo rows — any row within the margin of a
        # child boundary is either inside the parent (now a child row)
        # or inside the parent's halo, by containment of the child
        # region in the parent region.  For IDEMPOTENCE across a crash
        # mid-way through the parent-halo removal loop below, any
        # already-written child halo rows also join the candidate set:
        # a partially-removed parent can no longer contribute its
        # external margin rows directly, but the previous attempt's
        # child halos (written before any removal) carry them.
        halo_parents = [
            (o, p) for o, p in splits
            if self._fs.isdir(
                f"{self.path}/neighbor/Norder={o}/Dir={int(_dir_value(p))}/Npix={p}"
            )
        ]
        halo_children = [
            (o, p) for o, p in child_cells
            if self._fs.isdir(
                f"{self.path}/neighbor/Norder={o}/Dir={int(_dir_value(p))}/Npix={p}"
            )
        ]
        from lsd2_spark.operators.margins import margin_rows

        cell_key = F.col("Norder").cast("long") * F.lit(1 << 40) + F.col(
            "Npix"
        ).cast("long")
        child_pred = cell_key.isin([(o << 40) + p for o, p in child_cells])
        data_cols = [
            c for c in self.df().columns
            if c not in ("Norder", "Dir", "Npix", "_ID")
        ]
        cands = self.df().filter(child_pred).select(*data_cols)
        halo_paths = [
            f"{self.path}/neighbor/Norder={o}/Dir={int(_dir_value(p))}/Npix={p}"
            for o, p in halo_parents + halo_children
        ]
        if halo_paths:
            old_halo = spark.read.parquet(*halo_paths).select(*data_cols)
            cands = cands.unionByName(old_halo)
        # lineage cut: the dynamic overwrite below writes into the
        # same neighbor/ tree some candidates were read from — truncate
        # the lineage so the write doesn't read its own output path.
        # Flavor from the session conf ("auto": reliable iff a
        # checkpoint dir is set — see operators/common.cut_lineage);
        # the cut is consumed entirely by this halo rewrite, so a
        # reliable checkpoint is deleted once the rewrite lands (a
        # stream with auto_rebalance would otherwise leave one
        # snapshot per rebalance in the job store).
        from lsd2_spark.operators.common import (
            checkpoint_file_of,
            cut_lineage,
            remove_checkpoint_file,
            resolve_cut_mode,
        )

        halo_cut_mode = resolve_cut_mode(spark)
        cands = cut_lineage(cands.dropDuplicates([meta.id_kw]), mode=halo_cut_mode)
        halo_ckpt = checkpoint_file_of(
            cands, expect_reliable=(halo_cut_mode == "reliable")
        )

        child_hips: dict[int, list[int]] = {}
        for o2, cp in child_cells:
            child_hips.setdefault(o2, []).append(cp)
        restricted = Catalog(
            spark, self.path,
            replace(meta, hips={o: sorted(ps) for o, ps in child_hips.items()}),
            fs=self._fs,
        )
        rows = margin_rows(cands, restricted, ra_col=meta.ra_kw, dec_col=meta.dec_kw)
        if rows is not None:
            out = rows.withColumn("Dir", _dir_of(F.col("Npix")))
            prev_mode = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                (
                    out.repartition("Norder", "Npix")
                    .write.mode("overwrite")
                    .partitionBy("Norder", "Dir", "Npix")
                    .parquet(f"{self.path}/neighbor")
                )
            finally:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev_mode
                )
        for o, p in halo_parents:
            self._fs.rmtree(
                f"{self.path}/neighbor/Norder={o}/Dir={int(_dir_value(p))}/Npix={p}"
            )
        if halo_ckpt is not None:  # rewrite landed; the cut is dead
            remove_checkpoint_file(spark, halo_ckpt)

    def rebalance(
        self, threshold: int | None = None, max_order: int = 11
    ) -> "Catalog":
        """Split every over-threshold cell in place — the incremental
        answer to append's "re-import to re-balance" warning (the
        reference can only re-import; EP3).  Only the over cells are
        read, re-planned with the SAME top-down adaptive sweep ingest
        uses (dense sub-regions go to fine orders, sparse siblings stay
        coarse, capped at ``max_order``), re-ranked,
        and rewritten; the rest of the catalog is untouched.  Margins
        for the new child cells are rebuilt from the parent's rows plus
        the parent's old halo — a guaranteed superset of every child's
        margin set, so boundary-correct cross-match is preserved
        without touching any neighboring cell.

        Crash safety: a two-phase write-ahead marker.  ``pre`` is
        written before any mutation — a crash during the child rewrite
        ROLLS BACK (partial child dirs removed, parents untouched) on
        the next rebalance/fsck.  ``done`` is written only after the
        child rewrite committed — a later crash ROLLS FORWARD
        (parent removal, halo rebuild, coverage commit are all
        idempotent).  ``n_sources`` never changes, so there is no
        accounting window at all.

        Returns the rebalanced catalog (``self`` if nothing is over).
        A cell still over the threshold at ``max_order`` is left as-is
        with a warning.

        Like append, rebalance is not snapshot-isolated for concurrent
        readers: a pre-rebalance Catalog handle's pruning predicates
        still name the removed parent cells — re-resolve with
        ``Catalog.load``/the returned catalog after a rebalance."""
        import warnings

        spark = self.spark
        # converge stale markers from EITHER crashed mutation first
        # (see delete(): operating on half-mutated state corrupts the
        # per-cell counts this planning reads)
        if self._fs.exists(self._rebalance_intent_path()):
            return self._reconcile_rebalance_intent().rebalance(
                threshold, max_order
            )
        if self._fs.exists(self._delete_intent_path()):
            return self._reconcile_delete_intent().rebalance(
                threshold, max_order
            )
        if self._fs.exists(self._compact_intent_path()):
            return self._reconcile_compact_intent().rebalance(
                threshold, max_order
            )
        meta = self.meta
        thr = int(threshold) if threshold is not None else meta.pix_threshold
        if thr < 1:
            raise ValueError(f"rebalance threshold must be >= 1, got {thr}")

        counts = self.df().groupBy("Norder", "Npix").count().collect()
        over = [
            (int(r["Norder"]), int(r["Npix"]))
            for r in counts
            if r["count"] > thr
        ]
        over = [(o, p) for o, p in over if o < max_order]
        if not over:
            return self
        splits = sorted(over)

        # adaptive planning over the over-cells' rows (the same
        # top-down sweep ingest uses): the planner's leaves are strict
        # descendants of the over parents by construction, because
        # every ancestor of an over parent carries that parent's full
        # over-threshold count and therefore keeps splitting
        cell_key = F.col("Norder").cast("long") * F.lit(1 << 40) + F.col(
            "Npix"
        ).cast("long")
        over_pred = cell_key.isin([(o << 40) + p for o, p in splits])
        data_cols = [
            c for c in self.df().columns
            if c not in ("Norder", "Dir", "Npix", "_ID")
        ]
        rows = self.df().filter(over_pred).select(*data_cols)
        hist = (
            rows.select(
                ang2pix_udf(
                    max_order, F.col(meta.ra_kw), F.col(meta.dec_kw)
                ).alias("kpix")
            )
            .groupBy("kpix")
            .count()
            .collect()
        )
        kpix = np.array([r["kpix"] for r in hist], dtype=np.int64)
        kcnt = np.array([r["count"] for r in hist], dtype=np.int64)
        pm = compute_partition_map(kpix, kcnt, max_order, thr)
        child_cells = sorted(
            (int(o), int(p)) for o in pm.hips for p in pm.hips[o]
        )
        for o2, cp in child_cells:
            if o2 == max_order:
                c = int(kcnt[kpix == cp].sum()) if o2 == max_order else 0
                if c > thr:
                    warnings.warn(
                        f"cell (Norder={o2}, Npix={cp}) still holds {c} "
                        f"rows > threshold={thr} at max_order={max_order}",
                        stacklevel=2,
                    )

        intent_path = self._rebalance_intent_path()
        self._fs.publish(
            intent_path,
            json.dumps(
                {"phase": "pre", "splits": splits, "child_cells": child_cells}
            ),
        )

        # leaf assignment: the same broadcast leaf-table multi-order
        # probe ingest uses (one equi-join, each row survives exactly
        # one probe)
        orders = sorted(pm.hips)
        leaf_tbl = F.broadcast(
            spark.createDataFrame(
                [(int(o), int(p)) for o in orders for p in pm.hips[o]],
                "Norder int, Npix long",
            )
        )
        rewritten = (
            rows.withColumn(
                "_p19",
                ang2pix_udf(
                    SPATIAL_INDEX_ORDER, F.col(meta.ra_kw), F.col(meta.dec_kw)
                ),
            )
            .withColumn(
                "_kpix",
                F.shiftright(
                    F.col("_p19"), 2 * (SPATIAL_INDEX_ORDER - max_order)
                ),
            )
            .withColumn(
                "_pr", F.explode(_order_probes(F.col("_kpix"), orders, max_order))
            )
            .select(
                *data_cols,
                "_p19",
                F.col("_pr.Norder").alias("Norder"),
                F.col("_pr.Npix").alias("Npix"),
            )
            .join(leaf_tbl, ["Norder", "Npix"])
            .withColumn("Dir", _dir_of(F.col("Npix")))
            .withColumn("Norder", F.col("Norder").cast("int"))
            .withColumn("Npix", F.col("Npix").cast("long"))
        )
        indexed = _with_spatial_index(
            rewritten, meta.ra_kw, meta.dec_kw, p19_col="_p19"
        )
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                indexed.write.mode("overwrite")
                .partitionBy("Norder", "Dir", "Npix")
                .parquet(f"{self.path}/catalog")
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

        # child rewrite fully committed: flip the marker to done
        self._fs.publish(
            intent_path,
            json.dumps(
                {"phase": "done", "splits": splits, "child_cells": child_cells}
            ),
        )

        self._rebalance_finish(splits, child_cells)

        hips = {o: sorted(ps) for o, ps in meta.hips.items()}
        for o, p in splits:
            if o in hips and p in hips[o]:
                hips[o] = [x for x in hips[o] if x != p]
                if not hips[o]:
                    del hips[o]
        for o2, cp in child_cells:
            hips.setdefault(o2, [])
            if cp not in hips[o2]:
                hips[o2] = sorted(hips[o2] + [cp])
        new_meta = replace(meta, hips=hips)
        self._commit_meta(new_meta)
        try:
            self._fs.remove(intent_path)
        except FileNotFoundError:
            pass
        return Catalog(spark, self.path, new_meta, fs=self._fs)

    def _multifile_cells(
        self, root: str, max_files: int
    ) -> list[tuple[int, int]]:
        """Census of cells holding more than ``max_files`` parquet
        files, as ``(order, npix)`` tuples — a thin view over
        :meth:`_compact_file_census` (which keeps the file names)."""
        out = []
        for cell_rel in self._compact_file_census(root, max_files):
            od, _, pd_ = cell_rel.split("/")
            out.append((int(od.split("=", 1)[1]), int(pd_.split("=", 1)[1])))
        return sorted(out)

    def _compact_file_census(
        self, root: str, max_files: int
    ) -> dict[str, list[str]]:
        """Driver-side census: the parquet file NAMES per cell dir
        holding more than ``max_files`` of them, keyed by the cell dir
        relative to the root (``Norder=o/Dir=d/Npix=p``) — the exact
        old-file set the compact intent marker records.  One entry per
        CELL, so the walk is plan-sized in the same sense as the
        coverage map.  All I/O routes through ``self._fs``
        (sources/fs.py) — an object-store deployment swaps the listing
        implementation (or reads the ``_metadata`` sidecar) without
        touching this walk."""
        out: dict[str, list[str]] = {}
        base = os.path.join(self.path, root)
        if not self._fs.isdir(base):
            return out
        for od in self._fs.listdir(base):
            # isdir guards at every level: a stray regular file with a
            # partition-looking name (leftover tmp, object-store marker)
            # must not abort compact or the lifecycle-op entry that
            # reconciles a compact intent
            if not od.startswith("Norder=") or not self._fs.isdir(
                os.path.join(base, od)
            ):
                continue
            for dd in self._fs.listdir(os.path.join(base, od)):
                if not dd.startswith("Dir=") or not self._fs.isdir(
                    os.path.join(base, od, dd)
                ):
                    continue
                for pd_ in self._fs.listdir(os.path.join(base, od, dd)):
                    cell = os.path.join(base, od, dd, pd_)
                    if not pd_.startswith("Npix=") or not self._fs.isdir(cell):
                        continue
                    files = sorted(
                        f for f in self._fs.listdir(cell) if f.endswith(".parquet")
                    )
                    if len(files) > max_files:
                        out[f"{od}/{dd}/{pd_}"] = files
        return out

    def _compact_intent_path(self) -> str:
        return f"{self.path}/{self.meta.cat_name}_compact_intent.json"

    def _compact_checkpoint(self, phase: str) -> None:
        """Crash-injection seam for tests (no-op in production):
        called with ``"staged"`` after the merged files land in the
        staging dir but before the marker flips to done, and with
        ``"done"`` after the flip but before the staged files move in
        and the old files are deleted."""

    def _compact_stage_dir(self, root: str) -> str:
        # sibling of the table root, never under it: readers of
        # catalog/ and neighbor/ cannot see staged files
        return f"{self.path}/{root}__compactstage"

    def _write_compact_marker(self, payload: dict) -> None:
        """fsynced atomic marker write: the marker must be durably on
        disk BEFORE the phase it describes begins, so recovery can
        trust a readable marker and treat an unreadable one as
        phase-pre (see :meth:`_reconcile_compact_intent`)."""
        self._fs.publish(self._compact_intent_path(), json.dumps(payload))

    def _remove_files(self, dirpath: str, names) -> None:
        """Remove data files AND their hidden Hadoop ``.crc`` checksum
        sidecars (removing the file alone would leak one orphaned crc
        per compacted file, unbounded under streaming append→compact
        cycles); idempotent."""
        for fname in names:
            for p in (
                os.path.join(dirpath, fname),
                os.path.join(dirpath, f".{fname}.crc"),
            ):
                try:
                    self._fs.remove(p)
                except FileNotFoundError:
                    pass

    def _compact_roll_forward(self, roots: dict, staged: dict) -> None:
        """Move each staged merged file into its live cell, then delete
        that cell's recorded old files — strictly in that per-cell
        order, so at every instant every cell holds at least one
        complete copy of its rows.  Idempotent: already-moved staged
        files are skipped, already-deleted old files are skipped."""
        for root, cells in roots.items():
            stage = self._compact_stage_dir(root)
            for cell_rel, old_files in cells.items():
                dst_dir = os.path.join(self.path, root, cell_rel)
                for fname in staged.get(root, {}).get(cell_rel, []):
                    src = os.path.join(stage, cell_rel, fname)
                    if self._fs.exists(src):
                        self._fs.makedirs(dst_dir)
                        # rename is NOT assumed atomic (object-store
                        # copy+delete): a crash mid-move leaves a torn
                        # destination that this same re-run overwrites
                        self._fs.rename(src, os.path.join(dst_dir, fname))
                self._remove_files(dst_dir, old_files)
            self._fs.rmtree(stage)

    def _reconcile_compact_intent(self) -> "Catalog":
        """Converge a crashed :meth:`compact`.

        ``phase == "pre"`` — the merge wrote (possibly partially) into
        the STAGING directories only; live cells were never touched:
        roll back by removing the staging dirs.  External files that
        landed in live cells meanwhile are never touched — rollback
        never deletes anything inside the table roots.  ``phase ==
        "done"`` — the merge completed and the marker records the
        staged file names: roll forward (move staged files in, delete
        the recorded old files + crc sidecars).

        An UNREADABLE marker (torn by a crash mid-write — closed by
        the fsync ordering of :meth:`_write_compact_marker`, so this
        needs independent corruption) is treated as phase-pre.  That
        is safe even against a corrupted done-marker: roll-forward
        deletes a cell's old files only AFTER its staged file moved
        out of staging, so removing what remains in staging can only
        re-fragment cells, never lose their last copy."""
        intent_path = self._compact_intent_path()
        try:
            intent = json.loads(self._fs.read_text(intent_path))
            phase = intent["phase"]
            roots = intent["roots"]
            staged = intent.get("staged", {})
        except (OSError, ValueError, KeyError):
            intent = None
        if intent is None or phase != "done":
            for root in ("catalog", "neighbor"):
                self._fs.rmtree(self._compact_stage_dir(root))
        else:
            self._compact_roll_forward(roots, staged)
        try:
            self._fs.remove(intent_path)
        except FileNotFoundError:
            pass
        return Catalog(self.spark, self.path, self.meta, fs=self._fs)

    def compact(self, max_files: int = 1) -> "Catalog":
        """Merge the small files incremental ingest leaves behind.  The
        engine's own cell rewrites are one-file-per-cell (the rank
        kernel's per-cell shuffle guarantees it), but the ``neighbor/``
        halo table APPENDS one file per batch to every halo cell it
        touches (catalog.py halo append: ``mode("append")``) — under
        streaming ingest that grows without bound, and at 100 TB
        per-cell file count is what governs open/seek cost for every
        margin-union read.  The main table is covered too, for cells
        fragmented by external bulk loaders writing the hive layout
        directly.

        Only cells (catalog AND neighbor halos) holding more than
        ``max_files`` parquet files are read — the merge scan targets
        exactly those files, the rest of the catalog is never opened —
        re-sorted by ``_ID`` (the storage-order contract) and coalesced
        to one file per cell by a single shuffle on the partition key.

        Crash safety is a two-phase intent marker plus a STAGING
        directory — NOT dynamic partition overwrite, whose commit
        deletes each existing cell dir before renaming the staged one
        in: a crash in that gap loses the only copy of the cell.
        Phase ``pre``: the marker (fsynced) records the exact old file
        names per cell, then the merged replacements are written to a
        sibling staging dir — live cells untouched, so rollback is
        just removing staging and can never delete a file it does not
        own (external bulk-loader files landing concurrently are
        safe).  Phase ``done``: the marker records the staged file
        names; each staged file is moved into its cell and only then
        are that cell's old files (+ crc sidecars) deleted.  Recovery
        (:meth:`_reconcile_compact_intent`) runs at entry of every
        lifecycle op and ``fsck(repair)``.  Every intermediate state
        holds at least one complete copy of every row; the only
        reader-visible anomaly is transient per-cell duplication
        between a staged file moving in and the old files going — the
        same non-snapshot-isolation caveat delete/rebalance carry.
        Idempotent: a second call is a no-op.

        Like the other lifecycle ops it converges a crashed
        delete/rebalance/compact first."""
        if max_files < 1:
            raise ValueError(f"max_files must be >= 1, got {max_files}")
        if self._fs.exists(self._rebalance_intent_path()):
            return self._reconcile_rebalance_intent().compact(max_files)
        if self._fs.exists(self._delete_intent_path()):
            return self._reconcile_delete_intent().compact(max_files)
        if self._fs.exists(self._compact_intent_path()):
            return self._reconcile_compact_intent().compact(max_files)
        spark = self.spark
        plan = {
            root: census
            for root in ("catalog", "neighbor")
            if (census := self._compact_file_census(root, max_files))
        }
        if not plan:
            return self
        self._write_compact_marker({"phase": "pre", "roots": plan})

        staged: dict = {}
        for root, census in plan.items():
            base = f"{self.path}/{root}"
            stage = self._compact_stage_dir(root)
            self._fs.rmtree(stage)
            old_paths = [
                os.path.join(base, cell_rel, fname)
                for cell_rel, files in census.items()
                for fname in files
            ]
            # read EXACTLY the recorded old files (basePath keeps the
            # hive partition columns): concurrent external files are
            # neither read nor replaced, and a replay never
            # double-reads merged rows
            df = spark.read.option("basePath", base).parquet(*old_paths)
            sort_tail = ["_ID"] if "_ID" in df.columns else []
            (
                df.repartition("Norder", "Dir", "Npix")
                .sortWithinPartitions("Norder", "Dir", "Npix", *sort_tail)
                .write.mode("overwrite")
                .partitionBy("Norder", "Dir", "Npix")
                .parquet(stage)
            )
            staged[root] = {}
            for cell_rel in census:
                sdir = os.path.join(stage, cell_rel)
                staged[root][cell_rel] = (
                    sorted(
                        f for f in self._fs.listdir(sdir) if f.endswith(".parquet")
                    )
                    if self._fs.isdir(sdir)
                    else []
                )
        self._compact_checkpoint("staged")
        self._write_compact_marker(
            {"phase": "done", "roots": plan, "staged": staged}
        )
        self._compact_checkpoint("done")
        self._compact_roll_forward(plan, staged)
        self._fs.remove(self._compact_intent_path())
        return Catalog(spark, self.path, self.meta, fs=self._fs)

    def fsck(self, repair: bool = False) -> dict:
        """Consistency check between the metadata commit record and the
        bytes on disk — the audit to run after a crash, a partial
        delete, or an operator mistake.  Checks:

        - coverage map vs on-disk partition directories (both ways);
        - ``n_sources`` vs the actual row count;
        - duplicate ids;
        - spatial-index integrity (``_ID`` ranks contiguous from 0
          within every order-19 pixel);
        - orphaned halo rows (``neighbor/`` ids with no catalog row);
        - whether the metadata stores the read schema (``schema_inferred``:
          metadata written before it did; reads then infer it once per
          :meth:`load`).

        Everything driver-side is plan-sized (cell lists, scalar
        counts).  ``repair=True`` rewrites the metadata (atomic
        rename) so ``n_sources`` and the coverage map match the disk
        and the schema is stored, purges orphaned halo rows, and clears
        a stale delete-intent marker — live catalog rows are never
        modified.  Returns the report dict; after a
        repair the report reflects the PRE-repair state plus
        ``repaired=True``.
        """
        if repair and self._fs.exists(self._rebalance_intent_path()):
            # a crashed rebalance must converge BEFORE anything below
            # reads disk state: rollback/roll-forward changes the cell
            # directories the recount would otherwise snapshot stale
            healed = self._reconcile_rebalance_intent()
            self.meta = healed.meta
            report = self.fsck(repair=True)
            report["repaired"] = True
            return report
        if repair and self._fs.exists(self._compact_intent_path()):
            # same ordering argument: a half-compacted cell holds
            # either a partial merged file (pre) or duplicated rows
            # (done) — the recount below must see the converged state
            self._reconcile_compact_intent()
            report = self.fsck(repair=True)
            report["repaired"] = True
            return report
        meta = self.meta
        meta_cells = {(o, p) for o, ps in meta.hips.items() for p in ps}
        disk = self.df().groupBy("Norder", "Npix").count().collect()
        disk_cells = {(int(r["Norder"]), int(r["Npix"])) for r in disk}
        n_rows = int(sum(r["count"] for r in disk))

        idc = F.col(meta.id_kw)
        dup_ids = int(
            self.df([meta.id_kw])
            .groupBy(idc)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        rank_bad = int(
            self.df()
            .select(
                F.shiftright(F.col("_ID"), RANK_BITS).alias("_p19"),
                (F.col("_ID") % (1 << RANK_BITS)).alias("_r"),
            )
            .groupBy("_p19")
            .agg(F.count(F.lit(1)).alias("n"), F.max("_r").alias("mx"), F.min("_r").alias("mn"))
            .filter((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
            .count()
        )
        orphan_halo = 0
        if self._fs.exists(f"{self.path}/neighbor"):
            neigh = self.spark.read.parquet(f"{self.path}/neighbor")
            orphan_halo = int(
                neigh.join(
                    self.df([meta.id_kw]).select(meta.id_kw),
                    meta.id_kw,
                    "left_anti",
                ).count()
            )

        report = {
            "n_sources_meta": meta.n_sources,
            "n_rows_disk": n_rows,
            "cells_meta_only": sorted(meta_cells - disk_cells),
            "cells_disk_only": sorted(disk_cells - meta_cells),
            "duplicate_ids": dup_ids,
            "bad_rank_pixels": rank_bad,
            "orphan_halo_rows": orphan_halo,
            "stale_delete_intent": self._fs.exists(self._delete_intent_path()),
            "stale_rebalance_intent": self._fs.exists(
                self._rebalance_intent_path()
            ),
            "stale_compact_intent": self._fs.exists(self._compact_intent_path()),
            "schema_inferred": self._schema_inferred,
            "consistent": (
                meta.n_sources == n_rows
                and meta_cells == disk_cells
                and dup_ids == 0
                and rank_bad == 0
                and orphan_halo == 0
                and not self._fs.exists(self._delete_intent_path())
                and not self._fs.exists(self._rebalance_intent_path())
                and not self._fs.exists(self._compact_intent_path())
            ),
            "repaired": False,
        }
        if repair and orphan_halo:
            # a crashed delete can leave halo rows whose source ids are
            # gone; purging them is part of restoring consistency (the
            # only data files repair touches — live rows are never
            # modified, only orphaned halo copies removed)
            self._purge_halo_orphans()
            report["repaired"] = True
        if repair and report["stale_delete_intent"]:
            # a crashed delete left its write-ahead marker: the disk
            # recount below is strictly more authoritative than the
            # marker's accounting, so the metadata rewrite supersedes
            # it — drop the marker so the next delete doesn't replay
            try:
                self._fs.remove(self._delete_intent_path())
            except FileNotFoundError:
                pass
            report["repaired"] = True
        if repair and (
            meta.n_sources != n_rows
            or meta_cells != disk_cells
            or self._schema_inferred
        ):
            hips: dict[int, list[int]] = {}
            for o, p in sorted(disk_cells):
                hips.setdefault(o, []).append(p)
            new_meta = replace(meta, n_sources=n_rows, hips=hips)
            meta_path = f"{self.path}/{meta.cat_name}_meta.json"
            self._fs.publish(meta_path, new_meta.to_json())
            self.meta = new_meta
            self._schema_inferred = False
            report["repaired"] = True
        return report

    def create_view(self, name: str | None = None) -> str:
        """Register the catalog as a Spark SQL temp view so the full
        ``spark.sql`` surface composes with it (partition pruning on
        Norder/Npix and column pruning still apply — the view is the
        same lazy scan as ``df()``).  Returns the view name."""
        view = name or self.meta.cat_name
        self.df().createOrReplaceTempView(view)
        return view

    def _with_required(self, columns: list[str]) -> list[str]:
        """Reference util.py:276-296: ra/dec/id always included."""
        need = [self.meta.ra_kw, self.meta.dec_kw, self.meta.id_kw]
        out = list(columns)
        for c in need + ["Norder", "Dir", "Npix", "_ID"]:
            if c not in out:
                out.append(c)
        return out

    # -- sky map (reference catalog.py visualization surface) ----------------

    def sky_map(self, order: int = 5) -> DataFrame:
        """Per-pixel source counts at ``order`` with pixel centers —
        the data behind the reference's sky visualizations
        (catalog.py plot helpers + lsd2_io.py:163-194 FITS maps).
        Persist with sources.sinks.write_sky_map."""
        from lsd2_spark.operators.histogram import sky_histogram

        hist = sky_histogram(self.df(), self.meta.ra_kw, self.meta.dec_kw, order)

        import pandas as pd
        from pyspark.sql.types import DoubleType

        def _ra_of_fn(pix):
            ra, _ = hpx.pix2ang(order, pix.to_numpy())
            return pd.Series(ra)

        def _dec_of_fn(pix):
            _, dec = hpx.pix2ang(order, pix.to_numpy())
            return pd.Series(dec)

        _ra_of = F.pandas_udf(_ra_of_fn, DoubleType())
        _dec_of = F.pandas_udf(_dec_of_fn, DoubleType())

        return hist.select(
            "pix", "cnt", _ra_of(F.col("pix")).alias("ra"), _dec_of(F.col("pix")).alias("dec")
        )

    # -- visualizations (reference catalog.py:256-346; SVG here — no
    # matplotlib/healpy in this environment, see lsd2_spark.viz) ------------

    def visualize_sources(self, order: int = 5, width: int = 800) -> str:
        from lsd2_spark import viz

        return viz.visualize_sources(self, order=order, width=width)

    def visualize_partitions(self, width: int = 800) -> str:
        from lsd2_spark import viz

        return viz.visualize_partitions(self, width=width)

    def visualize_cone_search(
        self, ra: float, dec: float, radius: float, order: int = 5, width: int = 800
    ) -> str:
        from lsd2_spark import viz

        return viz.visualize_cone_search(self, ra, dec, radius, order=order, width=width)

    def visualize_cross_match(self, other: "Catalog", width: int = 800) -> str:
        from lsd2_spark import viz

        return viz.visualize_cross_match(self, other, width=width)

    # -- cone search (reference catalog.py:65-141, EP1) ----------------------

    def cone_pruning_predicate(
        self,
        ra: float,
        dec: float,
        radius: float,
        _hit: list[tuple[int, int]] | None = None,
    ) -> Column | None:
        """Pixel-IN-list predicate on the (Norder, Npix) partition
        columns — Catalyst turns it into static partition pruning.
        Returns None when the cone misses the catalog entirely.  The
        leaves the cover hits are appended to ``_hit`` when given, so
        :meth:`cone_search` reads them without computing the cover twice."""
        clauses = []
        for order, pixels in self.meta.hips.items():
            cover = hpx.cone_cover(order, ra, dec, radius)
            hit = [int(p) for p in np.intersect1d(cover, np.array(pixels, dtype=np.int64))]
            if hit:
                clauses.append((F.col("Norder") == order) & F.col("Npix").isin(hit))
                if _hit is not None:
                    _hit.extend((order, p) for p in hit)
        if not clauses:
            return None
        pred = clauses[0]
        for c in clauses[1:]:
            pred = pred | c
        return pred

    def cone_search(
        self,
        ra: float,
        dec: float,
        radius: float,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """All rows within ``radius`` deg of (ra, dec), with ``_DIST``
        appended.  The driver computes the pixel cover against the
        metadata's leaves and the scan reads only the hit leaf
        directories with the stored schema — no listing of the catalog,
        no schema inference, so one Spark job per collected cone (none
        for a cone that hits no leaf).  The (Norder, Npix) predicate
        stays on the scan; the exact distance filter runs as a Column
        expression in whole-stage codegen.

        Cells on disk that the metadata does not list are never read; a
        listed leaf whose directory is missing raises FileNotFoundError
        naming it (see :meth:`fsck`).  The leaf set is resolved from the
        metadata this handle was loaded with."""
        hit: list[tuple[int, int]] = []
        pred = self.cone_pruning_predicate(ra, dec, radius, _hit=hit)
        base = self._project(self._scan(hit), columns)
        if pred is not None:
            base = base.filter(pred)
        dist = gc_dist(F.col(self.meta.ra_kw), F.col(self.meta.dec_kw), ra, dec)
        return base.withColumn("_DIST", dist).filter(F.col("_DIST") < radius)

    # -- cross-match --------------------------------------------------------

    def cross_match(
        self,
        other: "Catalog",
        n_neighbors: int = 1,
        dthresh: float = 0.01,
        columns: list[str] | None = None,
        other_columns: list[str] | None = None,
        evaluate_margins: bool = True,
        exclude_self: bool = False,
        max_pairs_per_cell: float | None = None,
        debug: bool = False,
    ) -> DataFrame:
        from lsd2_spark.operators.crossmatch import crossmatch_catalogs

        if self.path == other.path:
            assert exclude_self, (
                "cross-matching a catalog with itself requires "
                "exclude_self=True (self pairs are dropped, right columns "
                "get a _2 suffix)"
            )
        return crossmatch_catalogs(
            self, other, n_neighbors=n_neighbors, dthresh=dthresh,
            columns=columns, other_columns=other_columns,
            evaluate_margins=evaluate_margins, exclude_self=exclude_self,
            max_pairs_per_cell=max_pairs_per_cell, debug=debug,
        )
