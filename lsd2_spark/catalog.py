"""Catalog — the core abstraction: a named, adaptively HEALPix-
partitioned table of sky positions materialized as hive-style Parquet.

Reference semantics: hipscat/catalog.py (query API), hipscat/
partitioner.py (ingest), hipscat/lsd2_io.py:110-125 (layout).  The
layout is byte-compatible with the reference:

    {path}/catalog/Norder={k}/Dir={pix//10000*10000}/Npix={pix}/...parquet
    {path}/neighbor/Norder=...   (margin export, written by margins.py)
    {path}/{name}_meta.json

The metadata JSON is the file index: its ``files`` map names every
leaf's Parquet files (the reference's ``hips`` leaf map is written too,
derived from it), and (extensions to the reference) ``schema`` stores
the Spark read schema and ``version`` counts commits.  Every read
opens exactly the files the metadata names, with that schema, so no
query infers a schema or reads a file no version lists: cone searches
and other reads of a few leaves hand Spark the named files (no
listing), and ``Catalog.df`` lists the root once per handle and keeps
the named files.  Every write commits the same way
(``Catalog._commit``): new files under fresh names, then one atomic
publish of the next version, then removal of the files it superseded.

Margins are an export, not maintained state: no query reads
``neighbor/`` (cross-match builds its halos at query time).  Ingest
with ``write_margins=True`` or :meth:`Catalog.export_margins` writes it
and sets ``margins_exported`` in the metadata; the commits of
``append``, ``delete`` and ``rebalance`` clear that flag and then
remove the directory, and :meth:`Catalog.margin_df` serves the export
only while the committed metadata vouches for it.

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
import threading
from dataclasses import dataclass, replace
from functools import cached_property, reduce

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType
from pyspark.sql.window import Window

from lsd2_spark import healpix as hpx
from lsd2_spark.functions.healpix_cols import ang2pix_udf
from lsd2_spark.functions.spherical import gc_dist
from lsd2_spark.plans.partition_map import assignment_cells, compute_partition_map
from lsd2_spark.plans.tables import probe_join
from lsd2_spark.sources.fs import LOCAL_FS, LifecycleFS

SPATIAL_INDEX_ORDER = 19
RANK_BITS = 21
DEFAULT_ORDER_K = 8
DEFAULT_THRESHOLD = 1_000_000  # reference default, partitioner.py:27
DEFAULT_MARGIN_DEG = 0.1  # reference default, partitioner.py:54
_READ_CHUNK = 32  # named files per parquet read (see Catalog._scan)


def _dir_of(pix: Column) -> Column:
    return (pix / 10_000).cast("long") * 10_000


def _dir_value(pix: int) -> int:
    """Scalar twin of :func:`_dir_of` for driver-side path building."""
    return (pix // 10_000) * 10_000


def pixel_of_index(index: Column, order: int) -> Column:
    """The nested pixel at ``order`` of rows whose spatial index is
    ``index``.  ``_ID = pix19 << RANK_BITS | rank``, so the pixel at any
    order up to ``SPATIAL_INDEX_ORDER`` is one shift: exact, and
    evaluated in the JVM (no Python worker)."""
    if not 0 <= order <= SPATIAL_INDEX_ORDER:
        raise ValueError(
            f"order {order} is outside [0, {SPATIAL_INDEX_ORDER}]: the "
            f"spatial index holds pixels at order {SPATIAL_INDEX_ORDER}"
        )
    return F.shiftright(index, RANK_BITS + 2 * (SPATIAL_INDEX_ORDER - order))


def leaf_predicate(leaves: dict[int, list[int]]) -> Column | None:
    """``(Norder, Npix)`` IN ``leaves`` as a predicate on the partition
    columns, which Spark applies to a scan's file index (static
    partition pruning: no file of another leaf is opened, and no
    listing runs).  None when ``leaves`` is empty.  Built as SQL text:
    one call into the JVM, where ``Column.isin`` makes one per pixel."""
    clauses = [
        f"(Norder = {int(o)} AND Npix IN ({', '.join(str(int(p)) for p in ps)}))"
        for o, ps in sorted(leaves.items()) if len(ps)
    ]
    return F.expr(" OR ".join(clauses)) if clauses else None


def _leaf_cells(hips: dict[int, list[int]]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The leaves of ``hips`` as :func:`_place` cells: each is its own
    target."""
    orders = np.repeat(sorted(hips), [len(hips[o]) for o in sorted(hips)])
    pixels = np.array([p for o in sorted(hips) for p in hips[o]], dtype=np.int64)
    return orders, pixels, orders


def _place(rows: DataFrame, cells: tuple[np.ndarray, np.ndarray, np.ndarray]) -> DataFrame:
    """``rows`` (which carry their order-19 pixel in ``_p19``) with the
    ``Norder``, ``Npix`` and ``Dir`` of the leaf each belongs to — the
    one row-to-leaf assignment of ingest, append and rebalance.

    ``cells`` are ``(order, pix, target_order)`` arrays of disjoint
    cells; every row must lie in one of them (the leaves of a plan over
    the rows, or :func:`assignment_cells`' cover of the whole sphere).
    The probe join (:func:`~lsd2_spark.plans.tables.probe_join`) on
    ``_p19`` finds each row's cell, and the row's leaf is its pixel at
    that cell's target order: in the JVM, with no Python worker."""
    order, pix, target = cells
    npix = F.expr(f"shiftright(_p19, 2 * ({SPATIAL_INDEX_ORDER} - Norder))")
    return (
        probe_join(rows, F.col("_p19"), SPATIAL_INDEX_ORDER, (order, pix),
                   {"Norder": target}, "Norder int")
        .select(*rows.columns, "Norder", npix.alias("Npix"))
        .withColumn("Dir", _dir_of(F.col("Npix")))
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


def _leaf_rel(order: int, pix: int) -> str:
    """A leaf's directory relative to the catalog root."""
    return f"Norder={order}/Dir={_dir_value(pix)}/Npix={pix}"


def _leaf_of_rel(rel: str) -> tuple[int, int]:
    order, _, pix = (part.split("=", 1)[1] for part in rel.split("/"))
    return int(order), int(pix)


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
    # leaf (Norder, Npix) -> the names of its Parquet files.  Every read
    # opens exactly these, so a file the metadata does not name is never
    # read.  Metadata written before the field existed names leaves only
    # (its ``hips``); Catalog.load lists their files then.
    files: dict[tuple[int, int], tuple[str, ...]]
    # High-water mark for streaming ingest: the last foreachBatch batch_id
    # whose append committed.  None for catalogs never fed by a stream.
    last_batch_id: int | None = None
    # The read schema (see _read_schema): readers pass it to Spark, so no
    # query infers a schema from the files.  None only in metadata
    # written before the field existed; Catalog.load infers it then.
    schema: StructType | None = None
    # True while neighbor/ holds the margin export of exactly these
    # rows and leaves; a row- or leaf-changing mutation clears it.
    # Metadata written before the field existed reads as not exported.
    margins_exported: bool = False
    # Bumped by every commit; 0 only in metadata written before the
    # field existed.
    version: int = 0

    @cached_property
    def hips(self) -> dict[int, list[int]]:
        """The leaf set as ``{order: sorted pixels}`` (the reference's
        coverage map), derived from ``files``."""
        out: dict[int, list[int]] = {}
        for o, p in sorted(self.files):
            out.setdefault(o, []).append(p)
        return out

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
                "hips": {str(k): v for k, v in self.hips.items()},
                "files": {
                    _leaf_rel(*leaf): list(names)
                    for leaf, names in sorted(self.files.items())
                },
                "version": self.version,
                "last_batch_id": self.last_batch_id,
                "schema": None if self.schema is None else self.schema.jsonValue(),
                "margins_exported": self.margins_exported,
            },
            separators=(",", ":"),
        )

    @staticmethod
    def from_json(s: str) -> "CatalogMetadata":
        d = json.loads(s)
        if "files" in d:
            files = {_leaf_of_rel(k): tuple(v) for k, v in d["files"].items()}
        else:  # leaves only: Catalog.load lists their files
            files = {(int(o), int(p)): () for o, ps in d["hips"].items() for p in ps}
        return CatalogMetadata(
            cat_name=d["cat_name"],
            ra_kw=d["ra_kw"],
            dec_kw=d["dec_kw"],
            id_kw=d["id_kw"],
            n_sources=d["n_sources"],
            pix_threshold=d["pix_threshold"],
            order_k=d["order_k"],
            margin_threshold=d.get("margin_threshold", DEFAULT_MARGIN_DEG),
            files=files,
            last_batch_id=d.get("last_batch_id"),
            schema=StructType.fromJson(d["schema"]) if d.get("schema") else None,
            margins_exported=d.get("margins_exported", False),
            version=d.get("version", 0),
        )


def _with_spatial_index(
    df: DataFrame, ra_col: str, dec_col: str, p19_col: str
) -> DataFrame:
    """Attach ``_ID`` (pix@19 ‖ rank ordered by ra, dec — the
    reference's lexsort, util.py:32) and leave each (Norder, Npix)
    cell's rows sorted by it, entirely in the JVM.

    The rank window partitions by (Norder, Dir, Npix, pix@19); hash
    partitioning on (Norder, Npix) already satisfies that clustered
    distribution, so the window shares the single write exchange —
    same shuffle count as the per-cell pandas kernel this replaces,
    and no row round-trips through the Python boundary here: every
    caller carries pix@19 in ``p19_col`` (new rows pixelize once, at
    ingest or append; stored rows shift it out of their ``_ID``).
    pix@19 never spans two cells (leaves are at most order
    ``SPATIAL_INDEX_ORDER``), so per-cell ranking is globally correct.
    The window's sort on (Norder, Dir, Npix, pix@19, ra, dec) is the
    only sort of the write: it starts with the partitioned writer's
    (Norder, Dir, Npix) ordering (``Dir`` is a function of ``Npix``, so
    adding it splits no cell), and it leaves each cell's rows in
    ``_ID`` order by construction.  ``Dir`` is derived from ``Npix``
    when ``df`` lacks it."""
    if "Dir" not in df.columns:
        df = df.withColumn("Dir", _dir_of(F.col("Npix")))
    out_cols = [c for c in df.columns if c != p19_col]
    w = Window.partitionBy("Norder", "Dir", "Npix", p19_col).orderBy(
        F.col(ra_col).asc(), F.col(dec_col).asc()
    )
    rank = F.col("_rank")
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
        .withColumn("_rank", F.row_number().over(w).cast("long") - 1)
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
    write_margins: bool = False,
    dtype_overrides: dict[str, str] | None = None,
    fs: "LifecycleFS | None" = None,
) -> "Catalog":
    """Ingest: adaptively partition ``df`` by source density and write
    the hive-layout catalog and its JSON metadata (plus, with
    ``write_margins=True``, the ``neighbor/`` margin export — see
    :meth:`Catalog.export_margins`).  ``dtype_overrides`` casts columns
    before ingest (reference ``dtypes=`` parameter, partitioner.py:26-37;
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
    # write (replaces reference EP3 stages 3-4).  Assignment is the
    # probe join append and rebalance use (see _place) over the LEAF
    # table, which is orders of magnitude smaller than the kpix→leaf
    # map (36 vs 47k at bench scale); the leaves partition the observed
    # sky, so each row hits exactly one.  Spread the write-path scan
    # too: the map side (Arrow pixelization + probe join) otherwise
    # runs in however few tasks the input arrived as — a no-op at
    # scale, a 10× parallelism win for few-file local inputs.  Rows are
    # pixelized ONCE, at the index order: the probes shift that pixel
    # and the spatial index below reuses it.
    assigned = _place(
        spread_partitions(df).withColumn("_p19", ang2pix_udf(SPATIAL_INDEX_ORDER, ra, dec)),
        _leaf_cells(pm.hips),
    )
    indexed = _with_spatial_index(assigned, ra_col, dec_col, p19_col="_p19")
    fs = fs or LOCAL_FS
    fs.makedirs(path)
    try:  # a re-ingest replaces the catalog committed at ``path``
        prev = Catalog.load(spark, path, cat_name, fs=fs).meta
    except FileNotFoundError:
        prev = None
    meta = CatalogMetadata(
        cat_name=cat_name,
        ra_kw=ra_col,
        dec_kw=dec_col,
        id_kw=id_col,
        n_sources=n_sources,
        pix_threshold=threshold,
        order_k=order_k,
        margin_threshold=margin_threshold,
        files=prev.files if prev else {},
        schema=_read_schema(indexed.schema),
        version=prev.version if prev else 0,
    )
    head = Catalog(spark, path, meta, fs=fs)
    cat = head._commit([*pm.leaf_list(), *meta.files], indexed)
    if write_margins:
        cat = cat._export_margins(df)
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
        # the filesystem of the commit (metadata publishes, leaf listings,
        # file removal) — injectable so object-store deployments and
        # fault-injection tests swap the POSIX default out; the data
        # plane (parquet scans/writes) goes through Spark's own Hadoop
        # FileSystem regardless (sources/fs.py)
        self._fs = fs or LOCAL_FS
        # True when the schema came from the files, not the metadata
        # (a catalog written before the metadata stored it); fsck's
        # repair persists it
        self._schema_inferred = False
        # the relation over every listed file that df() builds once and
        # then projects (see df()); the lock keeps threads sharing the
        # handle to one listing
        self._full: DataFrame | None = None
        self._full_lock = threading.Lock()

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
            if len(metas) != 1:
                raise ValueError(
                    f"ambiguous catalog dir {path}: {metas}; pass cat_name"
                )
            meta_file = metas[0]
        else:
            meta_file = f"{cat_name}_meta.json"
        meta = CatalogMetadata.from_json(fs.read_text(f"{path}/{meta_file}"))
        cat = Catalog(spark, path, meta, fs=fs)
        # once per load, for metadata written before these fields existed:
        # the catalogs its mutations return carry them, and fsck's repair
        # stores them
        cat._schema()
        if meta.version == 0:
            cat.meta = replace(cat.meta, files=cat._list(meta.files))
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
        return f"{self.path}/catalog/{_leaf_rel(order, pix)}"

    def _scan(self, leaves: list[tuple[int, int]] | None = None) -> DataFrame:
        """The one catalog reader: exactly the files the metadata lists
        for ``leaves`` (every listed leaf when None), with the stored
        schema — no schema is inferred.  A leaf the metadata does not
        list contributes no rows."""
        files = self.meta.files
        root = f"{self.path}/catalog"
        schema = self._schema()
        reader = self.spark.read.schema(schema).option("basePath", root)
        wanted = sorted(files) if leaves is None else leaves
        missing = [lf for lf in wanted if lf in files and not files[lf]]
        if missing:
            raise self._missing(missing)
        listed = [f"{_leaf_rel(*lf)}/{n}" for lf in wanted for n in files.get(lf, ())]
        if not listed:
            # the always-false filter folds to an empty local relation,
            # which collects without a Spark job
            return self.spark.createDataFrame([], schema).filter(F.lit(False))

        def missing_from(on_disk: set[str]) -> list[tuple[int, int]]:
            return [
                lf for lf in wanted
                if any(f"{_leaf_rel(*lf)}/{n}" not in on_disk for n in files.get(lf, ()))
            ]

        try:
            if leaves is None:
                # every leaf: one listing of the root, then keep only the
                # listed files (a filter on each file's path, which Spark
                # applies to the file list, so no other file is opened):
                # one scan, split as Spark splits a catalog, where named
                # files would need a listing job with a task per file
                full = reader.parquet(root)
                on_disk = {f.rsplit("/catalog/", 1)[-1] for f in full.inputFiles()}
                rel = F.substring_index(F.col("_metadata.file_path"), "/catalog/", -1)
                df = full.filter(rel.isin(listed))
            else:  # a few leaves: the named files themselves
                df = self._read(listed)
                on_disk = set(listed)
        except AnalysisException as e:
            missing = missing_from({p for p in listed if self._fs.exists(f"{root}/{p}")})
            if not missing:
                raise
            raise self._missing(missing) from e
        missing = missing_from(on_disk)
        if missing:
            raise self._missing(missing)
        return df

    def _read(self, rels: list[str], file_col: str | None = None) -> DataFrame:
        """The named files (paths under the catalog root) with the stored
        schema, and with each row's file path under the root as
        ``file_col`` when given.  At most 32 files per read, the reads
        unioned: Spark resolves more paths (its default
        spark.sql.sources.parallelPartitionDiscovery.threshold) in a
        listing job with a task per path."""
        root = f"{self.path}/catalog"
        reader = self.spark.read.schema(self._schema()).option("basePath", root)

        def read(chunk: list[str]) -> DataFrame:
            df = reader.parquet(*[f"{root}/{p}" for p in chunk])
            if file_col is None:
                return df
            # the metadata column does not survive the union
            return df.withColumn(
                file_col, F.substring_index(F.col("_metadata.file_path"), "/catalog/", -1)
            )

        return reduce(DataFrame.union, [
            read(rels[i:i + _READ_CHUNK]) for i in range(0, len(rels), _READ_CHUNK)
        ])

    def _missing(self, leaves: list[tuple[int, int]]) -> FileNotFoundError:
        """The error for a read whose listed files are gone: replaced by
        a newer version than this handle's, or lost from the disk."""
        try:
            committed = self._committed_meta().version
        except (OSError, ValueError):
            committed = self.meta.version
        name, version = self.meta.cat_name, self.meta.version
        if committed > version:
            return FileNotFoundError(
                f"catalog '{name}': this handle reads version {version}, older "
                f"than the committed version {committed}, which has replaced "
                f"the files of leaf (Norder, Npix) {leaves[0]}; read through "
                "the catalog the mutation returned, or Catalog.load it again"
            )
        return FileNotFoundError(
            f"catalog '{name}': the metadata lists leaf (Norder, Npix) "
            f"{leaves[0]} but files of it under {self._leaf_dir(*leaves[0])} "
            f"are missing ({len(leaves)} such leaf/leaves in this read); run "
            "Catalog.fsck() to compare the metadata with the disk, "
            "fsck(repair=True) to drop what is missing from it"
        )

    def _project(self, df: DataFrame, columns: list[str] | None) -> DataFrame:
        return df if columns is None else df.select(*self._with_required(columns))

    def df(self, columns: list[str] | None = None) -> DataFrame:
        """The catalog as a lazy DataFrame over exactly the files this
        handle's metadata version lists.  The schema is the one the
        metadata stores: data columns, then the hive partition columns
        ``Norder`` int, ``Dir`` long, ``Npix`` long, on which filters
        prune at the file level.

        The relation is built once per handle, at the first call (one
        listing of the catalog root, keeping the named files); every
        later call is a projection of it, so cross-match,
        :meth:`create_view` and :meth:`sky_map` pay no listing.  Threads
        sharing a handle share it.  A handle reads its own version:
        mutations return new handles, and leaves a later version adds are
        not visible through this one.  A file a later version has
        replaced is deleted when that mutation returns, so a read through
        this handle that needs it fails — never a silent mix."""
        with self._full_lock:
            if self._full is None:
                self._full = self._scan()
            full = self._full
        return self._project(full, columns)

    def _meta_path(self) -> str:
        return f"{self.path}/{self.meta.cat_name}_meta.json"

    def _committed_meta(self) -> "CatalogMetadata":
        """The metadata on disk, which may be newer than this handle's."""
        return CatalogMetadata.from_json(self._fs.read_text(self._meta_path()))

    def _head(self) -> "Catalog":
        """A handle on the committed version: every mutation plans from
        it, so one run through a stale handle keeps every commit made
        since that handle was loaded."""
        return Catalog.load(self.spark, self.path, self.meta.cat_name, fs=self._fs)

    # -- the commit ---------------------------------------------------------

    def _list(self, leaves) -> dict[tuple[int, int], tuple[str, ...]]:
        """The Parquet file names in each leaf directory (none for a
        leaf without one)."""
        out = {}
        for leaf in leaves:
            try:
                names = self._fs.listdir(self._leaf_dir(*leaf))
            except FileNotFoundError:
                names = []
            out[leaf] = tuple(sorted(n for n in names if n.endswith(".parquet")))
        return out

    def _sweep(self, meta: "CatalogMetadata", leaves) -> None:
        """Remove the Parquet files in ``leaves`` that ``meta`` does not
        list, with their Hadoop ``.crc`` sidecars, and the directory of
        each leaf it lists no file for."""
        for leaf in leaves:
            keep = meta.files.get(leaf)
            d = self._leaf_dir(*leaf)
            if not keep:
                self._fs.rmtree(d)
                continue
            for name in self._list([leaf])[leaf]:
                if name not in keep:
                    for p in (f"{d}/{name}", f"{d}/.{name}.crc"):
                        try:
                            self._fs.remove(p)
                        except FileNotFoundError:
                            pass

    def _commit_meta(self, new_meta: "CatalogMetadata") -> None:
        """Atomic metadata publish: the commit point."""
        self._fs.publish(self._meta_path(), new_meta.to_json())

    def _publish(self, meta: "CatalogMetadata") -> "CatalogMetadata":
        """Publish ``meta`` as the version after this handle's; refused
        when another commit has landed since this handle was loaded."""
        try:
            committed = self._committed_meta().version
        except FileNotFoundError:  # a new catalog
            committed = 0
        if committed != self.meta.version:
            raise RuntimeError(
                f"catalog '{self.meta.cat_name}': version {committed} was "
                f"committed while this mutation worked from version "
                f"{self.meta.version}; nothing was published, run it again"
            )
        meta = replace(meta, version=self.meta.version + 1)
        self._commit_meta(meta)
        return meta

    def _drop_superseded(self, leaves) -> None:
        """After a commit: delete what it no longer lists in ``leaves``
        (superseded files, emptied leaf directories) and, when the margin
        export is withdrawn, ``neighbor/``."""
        self._sweep(self.meta, leaves)
        if not self.meta.margins_exported:
            self._fs.rmtree(f"{self.path}/neighbor")

    def _commit(self, leaves, data: DataFrame | None, **changes) -> "Catalog":
        """The one write path.  Ingest, every mutation and the margin
        export commit through it, on the handle of the committed version
        they planned from (see :meth:`_head`).  ``data`` holds all the
        rows of every leaf in ``leaves`` after the change, with the hive
        partition columns; a leaf it has no row for leaves the catalog.
        ``changes`` are the other metadata fields that change.

        1. remove the files in ``leaves`` that the metadata does not
           list: the leftovers of a crashed attempt;
        2. write ``data`` in append mode: fresh file names, nothing is
           overwritten;
        3. list ``leaves`` to learn the new files;
        4. publish the next version (refused if the committed version
           has moved);
        5. only then delete the superseded files, emptied leaf
           directories and, when the export is withdrawn, ``neighbor/``.

        Readers open only listed files, so a crash before step 4 leaves
        this version whole and a crash after it the next one, each plus
        unlisted files that :meth:`fsck` reports and ``repair=True`` or
        the next mutation over those leaves removes.  One writer at a
        time: the version check refuses a commit whose base has moved,
        but two writes of the same leaf that overlap would list each
        other's files."""
        return self._finish(leaves, self._write(leaves, data), **changes)

    def _write(self, leaves, data: DataFrame | None) -> dict[tuple[int, int], tuple[str, ...]]:
        """Steps 1-3 of :meth:`_commit`: the file map of the next
        version, whose files in ``leaves`` are the ones ``data`` wrote."""
        base = self.meta
        leaves = sorted(set(leaves))
        self._sweep(base, leaves)
        if data is not None:
            (
                data.write.mode("append")
                .partitionBy(*PARTITION_COLS)
                .parquet(f"{self.path}/catalog")
            )
        files = dict(base.files)
        for leaf, names in self._list(leaves).items():
            new = tuple(n for n in names if n not in base.files.get(leaf, ()))
            if new:
                files[leaf] = new
            else:
                files.pop(leaf, None)
        return files

    def _finish(self, leaves, files, **changes) -> "Catalog":
        """Steps 4-5 of :meth:`_commit`."""
        cat = Catalog(
            self.spark, self.path, self._publish(replace(self.meta, files=files, **changes)),
            fs=self._fs,
        )
        cat._drop_superseded(sorted(set(leaves)))
        return cat

    def _file_rows(self, leaves, files) -> dict[tuple[int, int], tuple[int, int]]:
        """Rows per leaf in this version's files and in ``files`` (a
        written, not yet published file map that names files in every
        leaf of ``leaves``), as ``{leaf: (old, new)}``: one Spark action
        that reads no data column (Parquet row counts per file)."""
        side = {
            f"{_leaf_rel(*leaf)}/{name}": (leaf, new)
            for leaf in leaves
            for new, names in enumerate((self.meta.files.get(leaf, ()), files[leaf]))
            for name in names
        }
        out = {leaf: [0, 0] for leaf in leaves}
        for r in self._read(sorted(side), file_col="_f").groupBy("_f").count().collect():
            leaf, new = side[r["_f"]]
            out[leaf][new] += r["count"]
        return {leaf: tuple(n) for leaf, n in out.items()}

    # -- margins ------------------------------------------------------------

    def margin_df(self) -> DataFrame | None:
        """The ``neighbor/`` margin export, or None unless the committed
        metadata vouches for it: an append, delete or rebalance since
        the last export withdrew it (re-export with
        :meth:`export_margins`)."""
        p = f"{self.path}/neighbor"
        if not self._committed_meta().margins_exported or not self._fs.exists(p):
            return None
        return self.spark.read.parquet(p)

    def export_margins(self) -> "Catalog":
        """Write the ``neighbor/`` margin dataset (reference sink S8,
        dask_utils.py:246-318) from the catalog's committed rows and
        vouch for it in the metadata.  Nothing keeps the export up to
        date: ``append``, ``delete`` and ``rebalance`` withdraw it, so
        call this again after them when a consumer needs the halos
        (while the committed metadata vouches for an export, this
        returns at once).  ``compact`` leaves a valid export alone (rows
        and leaves do not change).  Returns the catalog with the flag
        set."""
        head = self._head()
        if head.meta.margins_exported:
            return head
        return head._export_margins(head._scan().drop(*PARTITION_COLS))

    def _export_margins(self, src: DataFrame) -> "Catalog":
        """Export the halos of the source rows ``src`` (the input
        columns, with ``_ID`` when they are the catalog's stored rows)
        of a version that vouches for no export, then commit
        the flag: a crash mid-write leaves an export nothing vouches
        for, which :meth:`margin_df` ignores and ``fsck(repair=True)``
        removes."""
        from lsd2_spark.operators.margins import write_margin_dataset

        write_margin_dataset(src, self, ra_col=self.meta.ra_kw, dec_col=self.meta.dec_kw)
        return self._commit([], None, margins_exported=True)

    # -- mutations ----------------------------------------------------------
    def append(self, df: DataFrame, batch_id: int | None = None) -> "Catalog":
        """Incremental ingest (extension — the reference can only
        re-import from scratch): append rows to an existing catalog.

        The plan is three Spark actions: a plan-sized collect, the write
        and one recount.

        - **one probe join.**  New rows are pixelized once, at the
          spatial-index order, and placed by one explode and one
          broadcast join (see :func:`_place`) on a plan table that
          covers the whole sphere: the leaves plus the nested-MOC
          complement of their coverage (:func:`assignment_cells`).  A
          row inside a leaf joins it; a row outside the coverage joins
          a complement cell, which names the order of the new leaf it
          opens: ``order_k``, or, where its order-``order_k`` pixel
          already holds finer leaves (after a :meth:`rebalance`), the
          finest order of those, so no new leaf overlaps an old one.
          The placed batch is cached, and one plan-sized collect of its
          per-cell counts gives the touched cells;
        - only the touched cells are re-ranked (their existing rows are
          read from their listed files, merged, and re-indexed so
          ``_ID`` stays the global rank-within-pixel; their pixel comes
          out of the stored ``_ID``) and rewritten whole, one new file
          per cell — untouched cells are never read or written;
        - **one recount.**  After the write and before the publish, one
          count of the touched leaves' old and new files (Parquet row
          counts, no data column read) gives ``n_sources`` (old total,
          minus the old rows of those leaves, plus their new rows) and
          the new per-leaf counts the over-threshold warning reads;
        - the commit withdraws a margin export (see
          :meth:`export_margins`).

        Leaves are NOT re-split: a cell pushed past ``pix_threshold``
        warns (run :meth:`rebalance`), matching the density contract.

        Contract: the incoming batch's id column must be unique within
        the batch.

        Commit and crash safety (see :meth:`_commit`): the append plans
        from the committed version, even through a stale handle, writes
        the touched cells' new files under fresh names and publishes the
        next version, then deletes the superseded files.  A crash before
        the publish leaves the previous version whole (the new files are
        unlisted, so never read); a crash after it, the new one.

        Concurrent readers: a handle reads the files of its own version.
        Through a handle loaded before the append (the one it was called
        on included), reads return the pre-append rows, or — for a read
        that needs a touched cell, whose old files the append deleted —
        fail with FileNotFoundError naming the newer committed version;
        never a mix.  Use the returned catalog or :meth:`Catalog.load`
        after appends.

        ``batch_id`` (streaming ingest): Structured Streaming's
        ``foreachBatch`` re-delivers the last uncommitted batch after a
        crash/restart.  Batches are applied serially with monotonically
        increasing ids, so exactly-once reduces to a high-water-mark
        check: the last committed ``batch_id`` rides the same metadata
        commit as the batch's files, and a replayed ``batch_id <=
        last_batch_id`` is a no-op.  A batch whose commit was lost runs
        again from the committed version and lands once.  Rows of the
        touched cells whose id the batch carries are replaced, not
        duplicated (a broadcast anti-join on the batch's ids), so
        re-sending rows under a new batch id converges too.
        """
        head = self._head()
        meta = head.meta
        # Fail fast on schema drift: the touched-cell rewrite writes
        # (existing ∪ batch) projected to the BATCH's columns, so a
        # batch missing a column would silently drop that column from
        # every rewritten cell, and an extra column fails later with a
        # cryptic resolve error.  Additive evolution is a re-import.
        cat_cols = [
            f.name for f in head._schema().fields
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
        if (
            batch_id is not None
            and meta.last_batch_id is not None
            and batch_id <= meta.last_batch_id
        ):
            return head

        p19 = ang2pix_udf(SPATIAL_INDEX_ORDER, F.col(meta.ra_kw), F.col(meta.dec_kw))
        # a row without coordinates has no pixel and would join no cell
        p19 = F.coalesce(p19, F.raise_error(F.lit(
            f"append: a row has NULL {meta.ra_kw}/{meta.dec_kw}; spatial "
            "ingest requires coordinates"
        ))).cast(LongType())
        assigned = _place(
            df.withColumn("_p19", p19), assignment_cells(meta.hips, meta.order_k)
        ).cache()
        try:
            # ONE plan-sized collect (cell → count) yields the touched
            # cells (new leaves are those the metadata does not list)
            touched = [
                (int(r["Norder"]), int(r["Npix"]))
                for r in assigned.groupBy("Norder", "Npix").count().collect()
            ]
            # merge touched cells' existing rows with the new ones: read
            # exactly the listed files of the touched leaves (a new leaf
            # has none), never list the catalog.  Existing rows that
            # share an id with the batch are replaced.  The ids come from
            # the batch, not the cache: the anti-join is pushed into each
            # ≤32-file read of the union, and the broadcasts of a cached
            # relation were not reused across them (one job per read).
            existing = (
                head._scan(touched)
                .select(
                    *df.columns, "Norder", "Npix", "Dir",
                    pixel_of_index(F.col("_ID"), SPATIAL_INDEX_ORDER).alias("_p19"),
                )
                .join(F.broadcast(df.select(meta.id_kw)), meta.id_kw, "left_anti")
            )
            merged = existing.unionByName(assigned.select(*existing.columns))
            indexed = _with_spatial_index(merged, meta.ra_kw, meta.dec_kw, p19_col="_p19")
            files = head._write(touched, indexed)
        finally:
            assigned.unpersist()
        rows = head._file_rows(touched, files)
        cat = head._finish(
            touched,
            files,
            n_sources=meta.n_sources + sum(new - old for old, new in rows.values()),
            last_batch_id=batch_id if batch_id is not None else meta.last_batch_id,
            margins_exported=False,
        )
        over = sum(1 for _, new in rows.values() if new > meta.pix_threshold)
        if over:
            import warnings

            warnings.warn(
                f"{over} cell(s) now exceed pix_threshold="
                f"{meta.pix_threshold} after append; run rebalance() to "
                "split them in place",
                stacklevel=2,
            )
        return cat

    def delete(self, predicate: "str | Column") -> "Catalog":
        """Delete matching rows (the privacy / right-to-be-forgotten
        pass a training-data catalog needs; the reference can only
        re-import).  Only cells containing matches are re-read from
        their listed files, re-ranked and rewritten; fully-emptied cells
        leave the coverage map and their directories are removed.  A
        delete that matches rows withdraws any margin export (see
        :meth:`export_margins`).

        NULL predicate rows are KEPT (a predicate that cannot decide a
        row must not delete it): match accounting counts only
        pred=TRUE rows and the keep filter uses NOT coalesce(pred,
        FALSE), so both sides agree.

        Commit and crash safety are append's (see :meth:`_commit`): the
        delete plans from the committed version, and a crash before its
        publish leaves the rows undeleted, after it deleted.
        """
        head = self._head()
        meta = head.meta
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        pred_true = F.coalesce(pred, F.lit(False))

        # plan-sized: per-cell match counts -> touched cells + n_deleted
        match_counts = (
            head._scan().filter(pred_true).groupBy("Norder", "Npix").count().collect()
        )
        if not match_counts:
            return head
        touched = [(int(r["Norder"]), int(r["Npix"])) for r in match_counts]
        n_deleted = int(sum(r["count"] for r in match_counts))
        # re-ranked below; pix@19 comes out of the stored _ID
        keep = (
            head._scan(touched)
            .filter(~pred_true)
            .withColumn("_p19", pixel_of_index(F.col("_ID"), SPATIAL_INDEX_ORDER))
            .drop("_ID")
        )
        indexed = _with_spatial_index(keep, meta.ra_kw, meta.dec_kw, p19_col="_p19")
        return head._commit(
            touched,
            indexed,
            n_sources=meta.n_sources - n_deleted,
            margins_exported=False,
        )

    def rebalance(
        self, threshold: int | None = None, max_order: int = 11
    ) -> "Catalog":
        """Split every over-threshold cell in place — the incremental
        answer to append's "re-import to re-balance" warning (the
        reference can only re-import; EP3).  Only the over cells are
        read, re-planned with the SAME top-down adaptive sweep ingest
        uses (dense sub-regions go to fine orders, sparse siblings stay
        coarse, capped at ``max_order``), re-ranked,
        and rewritten; the rest of the catalog is untouched.
        Cross-match stays boundary-correct because it builds its halos
        at query time; the commit withdraws a margin export (see
        :meth:`export_margins`), since its cells are the old leaves.

        Commit and crash safety are append's (see :meth:`_commit`): one
        publish replaces the split parents by their children, so a crash
        leaves either the old leaves or the new ones, never both.
        ``n_sources`` never changes.

        Returns the rebalanced catalog (the committed one if nothing is
        over).  A cell still over the threshold at ``max_order`` is left
        as-is with a warning.  ``max_order`` above
        ``SPATIAL_INDEX_ORDER`` raises ValueError before anything is
        read.

        A pre-rebalance handle's reads of a split parent fail on its
        deleted files: re-resolve with ``Catalog.load`` or use the
        returned catalog after a rebalance."""
        import warnings

        if not 0 <= max_order <= SPATIAL_INDEX_ORDER:
            # leaf pixels shift out of _ID, which holds order-19 pixels
            raise ValueError(
                f"rebalance max_order must be in [0, {SPATIAL_INDEX_ORDER}], "
                f"got {max_order}"
            )
        head = self._head()
        meta = head.meta
        thr = int(threshold) if threshold is not None else meta.pix_threshold
        if thr < 1:
            raise ValueError(f"rebalance threshold must be >= 1, got {thr}")

        counts = head._scan().groupBy("Norder", "Npix").count().collect()
        splits = sorted(
            (int(r["Norder"]), int(r["Npix"]))
            for r in counts
            if r["count"] > thr and r["Norder"] < max_order
        )
        if not splits:
            return head

        # adaptive planning over the over-cells' rows (the same
        # top-down sweep ingest uses): the planner's leaves are strict
        # descendants of the over parents by construction, because
        # every ancestor of an over parent carries that parent's full
        # over-threshold count and therefore keeps splitting.  Stored
        # rows are never re-pixelized: the histogram pixel and pix@19
        # both shift out of _ID.
        rows = (
            head._scan(splits)
            .withColumn("_p19", pixel_of_index(F.col("_ID"), SPATIAL_INDEX_ORDER))
            .drop(*PARTITION_COLS, "_ID")
        )
        hist = (
            rows.select(
                F.shiftright("_p19", 2 * (SPATIAL_INDEX_ORDER - max_order)).alias("kpix")
            )
            .groupBy("kpix")
            .count()
            .collect()
        )
        kpix = np.array([r["kpix"] for r in hist], dtype=np.int64)
        kcnt = np.array([r["count"] for r in hist], dtype=np.int64)
        pm = compute_partition_map(kpix, kcnt, max_order, thr)
        for o2, cp in pm.leaf_list():
            if o2 == max_order:
                c = int(kcnt[kpix == cp].sum())
                if c > thr:
                    warnings.warn(
                        f"cell (Norder={o2}, Npix={cp}) still holds {c} "
                        f"rows > threshold={thr} at max_order={max_order}",
                        stacklevel=2,
                    )

        # leaf assignment: the probe join ingest and append use; the
        # planner's leaves partition the over cells' rows
        rewritten = _place(rows, _leaf_cells(pm.hips))
        indexed = _with_spatial_index(
            rewritten, meta.ra_kw, meta.dec_kw, p19_col="_p19"
        )
        return head._commit(
            [*splits, *pm.leaf_list()], indexed, margins_exported=False
        )

    def compact(self, max_files: int = 1) -> "Catalog":
        """Merge the files of leaves whose metadata lists more than
        ``max_files`` of them — leaves an external bulk loader wrote
        into and registered in the metadata (the engine's own rewrites
        are one file per cell: the rank window's per-cell shuffle
        guarantees it).  At 100 TB per-cell file count governs
        open/seek cost for every read.  Rows and leaves do not change,
        so a margin export stays valid and ``neighbor/`` is not touched.

        Only the listed files of those leaves are read, re-sorted by
        ``_ID`` (the storage-order contract) and coalesced to one file
        per cell by a single shuffle on the partition key; the commit is
        every mutation's (see :meth:`_commit`), so a crash leaves either
        the old files or the merged ones listed.  Idempotent: a second
        call is a no-op."""
        if max_files < 1:
            raise ValueError(f"max_files must be >= 1, got {max_files}")
        head = self._head()
        cells = sorted(lf for lf, names in head.meta.files.items() if len(names) > max_files)
        if not cells:
            return head
        merged = (
            head._scan(cells)
            .repartition(*PARTITION_COLS)
            .sortWithinPartitions(*PARTITION_COLS, "_ID")
        )
        return head._commit(cells, merged)

    def _disk_files(self) -> dict[tuple[int, int], tuple[str, ...]]:
        """Every leaf directory under the catalog root with its Parquet
        file names: fsck's view of the disk.  Entries that are not
        partition directories (a stray file with a partition-looking
        name, an object-store folder marker) are skipped."""
        root = f"{self.path}/catalog"

        def subdirs(d: str, key: str) -> list[str]:
            try:
                names = self._fs.listdir(d)
            except FileNotFoundError:
                return []
            return [
                f"{d}/{n}" for n in names
                if n.startswith(f"{key}=") and self._fs.isdir(f"{d}/{n}")
            ]

        leaves = [
            _leaf_of_rel(leaf[len(root) + 1:])
            for od in subdirs(root, "Norder")
            for dd in subdirs(od, "Dir")
            for leaf in subdirs(dd, "Npix")
        ]
        return self._list(leaves)

    def fsck(self, repair: bool = False) -> dict:
        """Consistency check between the committed metadata and the
        bytes on disk — the audit to run after a crash or an operator
        mistake.  It checks the committed version, whichever handle it
        runs on:

        - listed files missing from the disk (``missing_files``; their
          leaves with no file left are ``cells_meta_only``) and Parquet
          files in leaf directories that no version lists
          (``unlisted_files``: what a crashed write left, or an external
          loader that did not register its files; their leaves with no
          listed file are ``cells_disk_only``) — reads never open them;
        - ``n_sources`` vs the rows of the listed files;
        - duplicate ids;
        - spatial-index integrity: ``_ID`` ranks contiguous from 0
          within every order-19 pixel (``bad_rank_pixels``), and every
          row's ``_ID`` pixel inside its leaf (``misplaced_rows``: the
          pixel at ``Norder`` shifted out of ``_ID`` is not ``Npix``) —
          cross-match and the mutations take cell pixels from ``_ID``;
        - a ``neighbor/`` directory the committed metadata does not
          vouch for (``unvouched_margins``: left by a crash between a
          mutation's publish and its removal, or by hand);
        - whether the metadata stores the read schema (``schema_inferred``:
          metadata written before it did; reads then infer it once per
          :meth:`load`).

        Everything driver-side is plan-sized (leaf and file lists,
        scalar counts).  ``repair=True`` publishes the next version when
        the metadata needs it — listing only the files on disk, with
        ``n_sources`` recounted and the schema and file lists of older
        metadata stored — and then deletes the unlisted files, the
        directories of leaves no version lists and an unvouched
        ``neighbor/``; listed rows are never modified.  Returns the
        report dict; after a repair the report reflects the PRE-repair
        state plus ``repaired=True``.  A repair updates this handle to
        the repaired version in place."""
        head = self._head()
        meta = head.meta
        disk = self._disk_files()
        listed = {(lf, n) for lf, ns in meta.files.items() for n in ns}
        on_disk = {(lf, n) for lf, ns in disk.items() for n in ns}
        readable: dict[tuple[int, int], tuple[str, ...]] = {}
        for lf, n in sorted(listed & on_disk):
            readable[lf] = (*readable.get(lf, ()), n)
        # the shift depends on the row's Norder, so it is a SQL
        # expression rather than pixel_of_index's fixed shift
        misplaced = F.expr(
            f"shiftright(_ID, {RANK_BITS} + 2 * ({SPATIAL_INDEX_ORDER} - Norder)) != Npix"
        )
        scan = Catalog(self.spark, self.path, replace(meta, files=readable), fs=self._fs)._scan()
        by_cell = (
            scan
            .groupBy("Norder", "Npix")
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.count(F.when(misplaced, 1)).alias("misplaced"),
            )
            .collect()
        )
        n_rows = int(sum(r["count"] for r in by_cell))
        n_misplaced = int(sum(r["misplaced"] for r in by_cell))

        idc = F.col(meta.id_kw)
        dup_ids = int(
            scan.select(idc)
            .groupBy(idc)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        rank_bad = int(
            scan
            .select(
                F.shiftright(F.col("_ID"), RANK_BITS).alias("_p19"),
                (F.col("_ID") % (1 << RANK_BITS)).alias("_r"),
            )
            .groupBy("_p19")
            .agg(F.count(F.lit(1)).alias("n"), F.max("_r").alias("mx"), F.min("_r").alias("mn"))
            .filter((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
            .count()
        )
        unvouched = not meta.margins_exported and self._fs.exists(f"{self.path}/neighbor")

        def rel(files):
            return sorted(f"{_leaf_rel(*lf)}/{n}" for lf, n in files)

        report = {
            "n_sources_meta": meta.n_sources,
            "n_rows_disk": n_rows,
            "cells_meta_only": sorted(set(meta.files) - set(readable)),
            "cells_disk_only": sorted(lf for lf, ns in disk.items() if ns and lf not in meta.files),
            "missing_files": rel(listed - on_disk),
            "unlisted_files": rel(on_disk - listed),
            "duplicate_ids": dup_ids,
            "bad_rank_pixels": rank_bad,
            "misplaced_rows": n_misplaced,
            "unvouched_margins": unvouched,
            "schema_inferred": head._schema_inferred,
            "consistent": (
                meta.n_sources == n_rows
                and listed == on_disk
                and dup_ids == 0
                and rank_bad == 0
                and n_misplaced == 0
                and not unvouched
            ),
            "repaired": False,
        }
        if repair:
            stale_meta = (
                meta.n_sources != n_rows
                or readable != meta.files
                or head._schema_inferred
                or meta.version == 0
            )
            if stale_meta:
                fixed = replace(meta, files=readable, n_sources=n_rows)
                head = Catalog(self.spark, self.path, head._publish(fixed), fs=self._fs)
            # the only files repair removes: those no version lists, and
            # an export no metadata vouches for
            head._drop_superseded(sorted(set(disk) | set(meta.files)))
            report["repaired"] = stale_meta or bool(on_disk - listed) or unvouched
            with self._full_lock:
                self.meta, self._full = head.meta, None
            self._schema_inferred = False
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
        Each row's pixel is a shift of its ``_ID``, so ``order`` above
        ``SPATIAL_INDEX_ORDER`` raises ValueError.  Persist with
        sources.sinks.write_sky_map."""
        pix = pixel_of_index(F.col("_ID"), order)  # raises before any read
        hist = self.df().groupBy(pix.alias("pix")).agg(F.count(F.lit(1)).alias("cnt"))

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
        leaves = {}
        for order, pixels in self.meta.hips.items():
            cover = hpx.cone_cover(order, ra, dec, radius)
            hit = [int(p) for p in np.intersect1d(cover, np.array(pixels, dtype=np.int64))]
            if hit:
                leaves[order] = hit
                if _hit is not None:
                    _hit.extend((order, p) for p in hit)
        return leaf_predicate(leaves)

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

        if self.path == other.path and not exclude_self:
            raise ValueError(
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
