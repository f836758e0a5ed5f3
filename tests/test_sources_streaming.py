"""Sources (CSV positional keys, FITS codec, URL listing, metadata
sidecars, sky maps), histogram operators, and the streaming surface."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import lsd2_spark.healpix as hpx
from lsd2_spark.operators.histogram import rollup_histogram, rollup_histogram_np, sky_histogram
from lsd2_spark.sources import fits, readers, sinks

SF_DIR = "/root/testdata/sf0.001"


# -- CSV ---------------------------------------------------------------------


def test_csv_headerless_positional_keys(spark, tmp_path):
    """Reference PS1 path: headerless CSV with integer column keys
    (hipscat_tests.py:48-55)."""
    p = tmp_path / "ps1.csv"
    rows = ["%d,%f,%f,%f,%f,%f,%f" % (i, 1.0, 2.0, 3.0, 4.0, i * 0.1, i * 0.05 - 10)
            for i in range(100)]
    p.write_text("\n".join(rows))
    df = readers.read_csv(
        spark, str(p), header=False, column_keys={"id": 0, "ra": 5, "dec": 6}
    )
    assert {"id", "ra", "dec"} <= set(df.columns)
    got = df.orderBy("id").limit(3).toPandas()
    assert got["ra"].tolist() == pytest.approx([0.0, 0.1, 0.2])


def test_csv_gz_and_skiprows(spark, tmp_path):
    import gzip

    p = tmp_path / "cat.csv.gz"
    body = "# meta line\nid,ra,dec\n" + "\n".join(
        f"{i},{i*1.0},{i*0.5}" for i in range(10)
    )
    with gzip.open(p, "wt") as f:
        f.write(body)
    # skiprows removes the metadata preamble before the header line is
    # unusable → read headerless and skip 2 rows
    df = readers.read_csv(spark, str(p), header=False, skiprows=2,
                          column_keys={"id": 0, "ra": 1, "dec": 2})
    assert df.count() == 10


def test_skiprows_multifile_no_global_sort(spark, tmp_path):
    """skiprows must drop the preamble of EVERY file independently, and
    the plan must not contain a global-ordering window (the 100 TB
    scale-killer this replaced)."""
    for i in range(3):
        (tmp_path / f"part{i}.csv").write_text(
            f"# meta for file {i}\n# more meta\n"
            + "\n".join(f"{i * 100 + j},{j * 1.0}" for j in range(5))
        )
    df = readers.read_csv(
        spark,
        str(tmp_path / "*.csv"),
        header=False,
        skiprows=2,
        column_keys={"id": 0, "x": 1},
    )
    got = df.orderBy("id").toPandas()
    assert len(got) == 15  # 3 files × 5 data rows, all preambles gone
    assert got["id"].tolist() == [i * 100 + j for i in range(3) for j in range(5)]
    # the cleaning stage is shuffle-free: no Window, no single-partition
    # exchange anywhere in the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_skiprows_with_header_multifile(spark, tmp_path):
    """header=True after skiprows: the header line survives preamble
    dropping and per-file header repeats are filtered."""
    for i in range(2):
        (tmp_path / f"h{i}.csv").write_text(
            "# preamble\nid,val\n" + "\n".join(f"{i * 10 + j},{j}" for j in range(4))
        )
    df = readers.read_csv(spark, str(tmp_path / "*.csv"), header=True, skiprows=1)
    got = df.orderBy("id").toPandas()
    assert list(df.columns) == ["id", "val"]
    assert len(got) == 8
    assert got["id"].tolist() == [0, 1, 2, 3, 10, 11, 12, 13]


def test_skiprows_type_drift_past_sample_fails_loudly(spark, tmp_path):
    """The skiprows path infers its schema from the first 1024 cleaned
    lines; a value past the sample that doesn't fit the inferred type
    must ABORT the read (FAILFAST), never silently become null."""
    p = tmp_path / "drift.csv"
    p.write_text(
        "# preamble\nid,val\n"
        + "\n".join(f"{i},{i}" for i in range(1500))
        + "\n1500,N/A\n"  # string in an int-sampled column, past the sample
    )
    df = readers.read_csv(spark, str(p), header=True, skiprows=1)
    with pytest.raises(Exception) as ei:
        df.collect()  # materializes the parsed columns
    msg = str(ei.value)
    assert "Malformed" in msg or "FAILFAST" in msg or "BadRecord" in msg, msg

    # escape hatch: an explicit schema skips inference and parses all rows
    ok = readers.read_csv(
        spark, str(p), header=True, skiprows=1, schema="id INT, val STRING"
    )
    got = ok.orderBy("id").toPandas()
    assert len(got) == 1501
    assert got["val"].iloc[-1] == "N/A"


def test_explicit_schema_headerless_skiprows_skips_sampling(spark, tmp_path):
    """header=False + explicit schema: no driver-side sample collect is
    needed and positional renames still apply."""
    p = tmp_path / "noheader.csv"
    p.write_text("# meta\n" + "\n".join(f"{i},{i * 0.5}" for i in range(20)))
    df = readers.read_csv(
        spark, str(p), header=False, skiprows=1,
        schema="`_c0` INT, `_c1` DOUBLE", column_keys={"id": 0, "x": 1},
    )
    got = df.orderBy("id").toPandas()
    assert got["id"].tolist() == list(range(20))
    assert got["x"].iloc[3] == pytest.approx(1.5)


# -- FITS --------------------------------------------------------------------


def test_fits_roundtrip(tmp_path):
    pdf = pd.DataFrame(
        {
            "ID": np.arange(50, dtype=np.int64),
            "RA": np.linspace(0, 359, 50),
            "DEC": np.linspace(-80, 80, 50).astype(np.float32),
            "NAME": [f"obj{i}" for i in range(50)],
        }
    )
    path = str(tmp_path / "t.fits")
    fits.write_fits_table(pdf, path)
    with open(path, "rb") as f:
        buf = f.read()
    assert len(buf) % fits.BLOCK == 0
    back = fits.fits_table_to_pandas(buf)
    assert back["ID"].tolist() == pdf["ID"].tolist()
    assert np.allclose(back["RA"], pdf["RA"])
    assert np.allclose(back["DEC"], pdf["DEC"])
    assert back["NAME"].tolist() == pdf["NAME"].tolist()


def test_fits_distributed_scan(spark, tmp_path):
    for j in range(3):
        pdf = pd.DataFrame(
            {
                "ID": np.arange(20, dtype=np.int64) + j * 100,
                "RA": np.linspace(0, 350, 20),
                "DEC": np.linspace(-80, 80, 20),
            }
        )
        fits.write_fits_table(pdf, str(tmp_path / f"part{j}.fits"))
    df = readers.read_fits_tables(spark, str(tmp_path / "*.fits"))
    assert df.count() == 60
    assert set(df.columns) == {"ID", "RA", "DEC"}
    assert df.agg(F.min("ID")).collect()[0][0] == 0


# -- URL listing -------------------------------------------------------------


def test_url_listing_parser():
    html = """<html><body>
    <a href="file1.csv.gz">f1</a> <a href="sub/file2.csv.gz">f2</a>
    <a href="http://x.org/file3.csv.gz">f3</a> <a href="skip.parquet">p</a>
    </body></html>"""
    urls = readers.list_url_files(html, "http://data.org/cat/", ".csv.gz")
    assert urls == [
        "http://data.org/cat/file1.csv.gz",
        "http://data.org/cat/sub/file2.csv.gz",
        "http://x.org/file3.csv.gz",
    ]


# -- metadata sidecar + sky map ----------------------------------------------


def test_parquet_metadata_sidecar(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "cat")
    df.repartition(4).write.partitionBy("v").mode("overwrite").parquet(out)
    sinks.write_parquet_metadata_sidecar(out)
    assert os.path.exists(f"{out}/_metadata")
    assert os.path.exists(f"{out}/_common_metadata")
    import pyarrow.parquet as pq

    md = pq.read_metadata(f"{out}/_metadata")
    assert md.num_rows == 100


def test_sky_map_fits_roundtrip(tmp_path):
    pdf = pd.DataFrame({"pix": np.arange(48, dtype=np.int64), "cnt": np.arange(48, dtype=np.int64) * 3})
    path = str(tmp_path / "map.fits")
    sinks.write_sky_map(pdf, path, fmt="fits")
    with open(path, "rb") as f:
        back = fits.fits_table_to_pandas(f.read())
    assert back["cnt"].sum() == pdf["cnt"].sum()


# -- histogram + rollup ------------------------------------------------------


def test_histogram_and_rollup(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        ((F.col("l_orderkey") * 9973 % 360000) / 1000.0).alias("ra"),
        (((F.col("l_orderkey") * 7919 % 160000) / 1000.0) - 80.0).alias("dec"),
    )
    h5 = sky_histogram(li, "ra", "dec", 5).toPandas()
    assert h5["cnt"].sum() == li.count()
    # distributed rollup equals driver-side rollup equals direct histogram
    h3_dist = rollup_histogram(sky_histogram(li, "ra", "dec", 5), 2).toPandas()
    h3_direct = sky_histogram(li, "ra", "dec", 3).toPandas()
    h3_np = rollup_histogram_np(h5["pix"].to_numpy(), h5["cnt"].to_numpy(), 2)
    for other in (h3_direct, h3_np):
        a = h3_dist.sort_values("pix", ignore_index=True)
        b = other.sort_values("pix", ignore_index=True)
        assert a["pix"].tolist() == b["pix"].tolist()
        assert a["cnt"].tolist() == b["cnt"].tolist()


# -- streaming ----------------------------------------------------------------


def test_streaming_windowed_counts_match_batch(spark):
    from lsd2_spark.queries import load_table
    from lsd2_spark.streaming import events as sev

    stream = sev.read_events_stream(spark, SF_DIR)
    agg = sev.windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    sev.run_to_memory_sink(agg, "stream_counts", mode="complete")
    got = spark.sql("SELECT * FROM stream_counts").toPandas()

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    g = got.groupby(["window_start", "event_type"])["n"].sum().sort_index()
    b = batch.groupby(["window_start", "event_type"])["n"].sum().sort_index()
    assert g.equals(b)


def test_streaming_pixel_tagger(spark):
    from lsd2_spark.streaming import events as sev

    stream = sev.read_events_stream(spark, SF_DIR)
    tagged = sev.streaming_pixel_tagger(stream, order=4)
    sev.run_to_memory_sink(tagged.select("event_id", "ra", "dec", "pix"),
                           "stream_tagged", mode="append")
    got = spark.sql("SELECT * FROM stream_tagged").toPandas()
    assert len(got) == 1000
    want = hpx.ang2pix(4, got["ra"].to_numpy(), got["dec"].to_numpy())
    assert (got["pix"].to_numpy() == want).all()


def test_stateful_sessionize_matches_batch_q12(spark):
    """applyInPandasWithState sessionization must reproduce the batch
    q12 (lag + running-sum window) per-user session/event counts."""
    from lsd2_spark.queries import all_queries
    from lsd2_spark.streaming import events as sev

    stream = sev.read_events_stream(spark, SF_DIR)
    sess = sev.stateful_sessionize(stream, gap_min=30)
    sev.run_to_memory_sink(sess, "stream_sessions", mode="update")
    got = (
        spark.sql("SELECT * FROM stream_sessions")
        .toPandas()
        .groupby("user_id")
        .last()  # update mode: latest cumulative row per user wins
        .sort_index()
    )

    batch = (
        all_queries()["q12_sessionize"](spark, SF_DIR)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert got.index.equals(batch.index)
    assert (got["n_sessions"].to_numpy() == batch["n_sessions"].to_numpy()).all()
    assert (got["n_events"].to_numpy() == batch["n_events"].to_numpy()).all()


# -- visualizations -----------------------------------------------------------


def test_visualizations_svg(spark, tmp_path):
    """The four reference visualize_* entry points render well-formed
    SVG over the engine's data surfaces (no matplotlib available)."""
    from lsd2_spark.catalog import partition_catalog

    rng = np.random.default_rng(7)
    n = 2000
    pdf = pd.DataFrame({
        "sid": np.arange(n, dtype=np.int64),
        "ra": rng.uniform(0, 360, n),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
    })
    c1 = partition_catalog(spark.createDataFrame(pdf), str(tmp_path / "v1"), "v1",
                           ra_col="ra", dec_col="dec", id_col="sid",
                           threshold=400, order_k=6, write_margins=False)
    c2 = partition_catalog(spark.createDataFrame(pdf.iloc[: n // 4]),
                           str(tmp_path / "v2"), "v2",
                           ra_col="ra", dec_col="dec", id_col="sid",
                           threshold=400, order_k=6, write_margins=False)

    src = c1.visualize_sources(order=3)
    assert src.startswith("<svg") and src.endswith("</svg>")
    # one polygon per non-empty coarse pixel
    assert src.count("<polygon") == c1.sky_map(3).count()
    assert f"{n:,} sources" in src

    parts = c1.visualize_partitions()
    n_cells = sum(len(v) for v in c1.meta.hips.values())
    assert parts.count("<polygon") == n_cells

    cone = c1.visualize_cone_search(120.0, 30.0, 15.0, order=3)
    n_hl = cone.count('stroke="#ff3333"')
    assert n_hl == len(hpx.cone_cover(3, 120.0, 30.0, 15.0))

    xm = c1.visualize_cross_match(c2)
    assert xm.startswith("<svg") and "<polygon" in xm


def test_stream_into_catalog_incremental_ingest(spark, tmp_path):
    """foreachBatch -> Catalog.append: a file-per-trigger stream lands
    in the catalog with correct leaf assignment and metadata; the
    result equals a batch ingest of the same rows."""
    from lsd2_spark.catalog import partition_catalog
    from lsd2_spark.streaming import events as sev

    rng = np.random.default_rng(31)
    base = pd.DataFrame({
        "sid": np.arange(3000, dtype=np.int64),
        "ra": rng.uniform(0, 360, 3000),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 3000))),
    })
    cat = partition_catalog(
        spark.createDataFrame(base), str(tmp_path / "cat"), "sc",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=700, order_k=6, write_margins=False,
    )
    # two incoming parquet files -> two micro-batches
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    extras = []
    for j in range(2):
        e = pd.DataFrame({
            "sid": np.arange(3000 + j * 400, 3000 + (j + 1) * 400, dtype=np.int64),
            "ra": rng.uniform(0, 360, 400),
            "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 400))),
        })
        extras.append(e)
        spark.createDataFrame(e).coalesce(1).write.mode("overwrite").parquet(
            str(inbox / f"f{j}.parquet")
        )
    stream = (
        spark.readStream.schema("sid long, ra double, dec double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox / "*.parquet"))
    )
    writer = sev.stream_into_catalog(stream, cat)
    import time as _time

    t0 = _time.perf_counter()
    writer.run_available(str(tmp_path / "ckpt"))
    wall = _time.perf_counter() - t0

    got = writer.catalog
    assert got.meta.n_sources == 3800
    assert got.df().count() == 3800
    all_sids = set(got.df().select("sid").toPandas()["sid"])
    assert all_sids == set(range(3800))
    # per-batch breakdown recorded (the bench reads it to split append
    # cost from Structured Streaming overhead), and a VERY conservative
    # throughput floor — 10-30x headroom over idle-box numbers, so it
    # only trips on an order-of-magnitude regression (e.g. an O(n^2)
    # slip in the append path), never on machine load
    assert [b["batch_id"] for b in writer.batch_stats] == [0, 1]
    assert all(0 < b["append_sec"] < 30 for b in writer.batch_stats), (
        writer.batch_stats
    )
    assert wall < 120, f"800 rows / 2 micro-batches took {wall:.0f}s"


def test_stream_into_catalog_crash_mid_batch_restarts_exactly_once(spark, tmp_path):
    """END-TO-END crash recovery: the foreachBatch sink dies AFTER the
    batch's files are written but BEFORE the metadata commit (injected
    exception at the metadata rename), the query fails, and a fresh
    writer restarted from the SAME checkpoint must replay the
    uncommitted batch and converge: exact n_sources, no duplicate rows,
    and the margin export the catalog started with withdrawn."""
    import json
    import os as _os

    from lsd2_spark.catalog import Catalog, partition_catalog
    from lsd2_spark.streaming import events as sev

    rng = np.random.default_rng(53)
    base = pd.DataFrame({
        "sid": np.arange(3000, dtype=np.int64),
        "ra": rng.uniform(0, 360, 3000),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 3000))),
    })
    cat = partition_catalog(
        spark.createDataFrame(base), str(tmp_path / "cat"), "sc",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=700, order_k=6, write_margins=True,
    )
    assert cat.margin_df() is not None
    # two micro-batches
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    f0 = pd.DataFrame({
        "sid": np.arange(3000, 3400, dtype=np.int64),
        "ra": rng.uniform(0, 360, 400),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, 400))),
    })
    n1 = 408
    f1 = pd.DataFrame({
        "sid": np.arange(3400, 3400 + n1, dtype=np.int64),
        "ra": rng.uniform(0, 360, n1),
        "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n1))),
    })
    for j, f in enumerate([f0, f1]):
        spark.createDataFrame(f).coalesce(1).write.mode("overwrite").parquet(
            str(inbox / f"f{j}.parquet")
        )

    def make_stream():
        return (
            spark.readStream.schema("sid long, ra double, dec double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inbox / "*.parquet"))
        )

    # run 1: allow batch 0's metadata commit, crash at batch 1's
    real_replace = _os.replace

    def crash_second_commit(src, dst):
        if str(dst).endswith("_meta.json"):
            with open(src) as f:
                if json.load(f)["last_batch_id"] == 1:
                    raise RuntimeError("injected crash at metadata commit")
        return real_replace(src, dst)

    ckpt = str(tmp_path / "ckpt")
    _os.replace = crash_second_commit
    try:
        writer = sev.stream_into_catalog(make_stream(), cat)
        q = writer.start(ckpt)
        with pytest.raises(Exception, match="injected crash"):
            q.processAllAvailable()
        q.stop()
    finally:
        _os.replace = real_replace

    # restart: fresh writer over the durable state, SAME checkpoint —
    # Structured Streaming redelivers the uncommitted batch
    reloaded = Catalog.load(spark, str(tmp_path / "cat"), "sc")
    assert reloaded.meta.n_sources == 3400  # only batch 0 committed
    writer2 = sev.stream_into_catalog(make_stream(), reloaded)
    writer2.run_available(ckpt)

    got = writer2.catalog
    total = 3400 + n1
    assert got.meta.n_sources == total
    assert got.df().count() == total
    assert got.df().select("sid").distinct().count() == total
    assert got.margin_df() is None
    assert not _os.path.exists(tmp_path / "cat" / "neighbor")

    # a second restart from the same checkpoint is a complete no-op
    writer3 = sev.stream_into_catalog(
        make_stream(), Catalog.load(spark, str(tmp_path / "cat"), "sc")
    )
    writer3.run_available(ckpt)
    assert writer3.catalog.meta.n_sources == total
    assert writer3.catalog.df().count() == total


def test_read_events_stream_on_initially_empty_directory(spark, tmp_path):
    """start-stream-then-deliver-files: defining the stream on an empty
    directory must work (legacy long-ts schema fallback), and files
    arriving after definition flow through with normalized timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lsd2_spark.streaming import events as sev

    d = tmp_path / "inbox"
    d.mkdir()
    stream = sev.read_events_stream(spark, str(d), glob="*.parquet")  # empty now
    assert str(stream.schema["ts"].dataType) == "TimestampType()"

    micros = [1_704_067_200_000_000, 1_704_070_800_000_000]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([m * 1000 for m in micros], pa.int64()),  # nanos
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }),
        d / "late.parquet",
    )
    sev.run_to_memory_sink(
        stream.select("event_id", "ts"), "empty_dir_stream", mode="append"
    )
    got = spark.sql(
        "SELECT event_id, CAST(ts AS LONG) AS e FROM empty_dir_stream ORDER BY event_id"
    ).toPandas()
    assert got["e"].tolist() == [m // 1_000_000 for m in micros]


def test_read_events_stream_explicit_ts_type_for_modern_files(spark, tmp_path):
    """Explicit ts_type covers the empty-dir case when the arriving
    files use the CURRENT generator era (timestamp[us] NTZ)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType

    from lsd2_spark.streaming import events as sev

    d = tmp_path / "inbox2"
    d.mkdir()
    stream = sev.read_events_stream(
        spark, str(d), glob="*.parquet", ts_type=TimestampNTZType()
    )
    micros = [1_704_067_200_000_000, 1_704_070_800_000_000]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(micros, pa.timestamp("us")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }),
        d / "late.parquet",
    )
    sev.run_to_memory_sink(
        stream.select("event_id", "ts"), "ntz_dir_stream", mode="append"
    )
    got = spark.sql(
        "SELECT event_id, CAST(ts AS LONG) AS e FROM ntz_dir_stream ORDER BY event_id"
    ).toPandas()
    assert got["e"].tolist() == [m // 1_000_000 for m in micros]


def test_read_media_files_feeds_multimodal_ops(spark, tmp_path):
    """binaryFile ingest → blob table → real decode: files on disk land
    as distributed payloads with stable ids, and the feature kernel
    sees genuine pixels."""
    import numpy as np

    from lsd2_spark.operators import multimodal
    from lsd2_spark.sources import imagecodec as ic
    from lsd2_spark.sources.readers import read_media_files

    rng = np.random.default_rng(13)
    imgs = {}
    for i in range(3):
        img = rng.integers(0, 256, (6, 7, 3), dtype=np.uint8)
        (tmp_path / f"img{i}.png").write_bytes(ic.encode_png(img))
        imgs[f"img{i}.png"] = img
    blobs = read_media_files(spark, str(tmp_path / "*.png"), "image/png")
    rows = blobs.collect()
    assert len(rows) == 3
    assert len({r["media_id"] for r in rows}) == 3  # stable distinct ids
    feats = multimodal.extract_features(blobs).toPandas()
    by_id = {r["media_id"]: r["media_path"] for r in rows}
    for _, f in feats.iterrows():
        img = imgs[by_id[f["media_id"]].rsplit("/", 1)[-1]]
        assert f["feat_mean"] == float(img.ravel().mean())  # exact, unrounded


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode watermark semantics, end to end: once the watermark
    has passed a window and its state is evicted (emission), a late row
    for that window is DROPPED — the finalized window is emitted
    exactly once with the on-time count, never re-emitted.  (Within the
    eviction delay, Spark's late-drop is documented best-effort; this
    pins the hard guarantee that matters: no duplicate/updated output
    after finalization.)"""
    import datetime as dt
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lsd2_spark.streaming import events as sev

    def write_events(path, rows):
        ids, tss, uids, types, vals, props = zip(*rows)
        pq.write_table(
            pa.table({
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(list(tss), pa.timestamp("us")),
                "user_id": pa.array(uids, pa.int64()),
                "event_type": pa.array(types),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(props),
            }),
            path,
        )

    T = dt.datetime
    d = tmp_path / "late"
    d.mkdir()
    # batch 0: one event in the 00:00 window, one at 05:30 — advances
    # the watermark to 03:30 for the NEXT batch
    write_events(d / "a_events.parquet", [
        (1, T(2024, 1, 1, 0, 30), 10, "click", 1.0, "{}"),
        (2, T(2024, 1, 1, 5, 30), 10, "click", 1.0, "{}"),
    ])
    # batch 1: on-time row; at this batch's end the 00:00 window
    # (end 01:00 < wm 03:30) is evicted and emitted
    write_events(d / "b_events.parquet", [
        (3, T(2024, 1, 1, 5, 35), 10, "click", 1.0, "{}"),
    ])
    # batch 2: a LATE row for the finalized 00:00 window + an on-time row
    write_events(d / "c_events.parquet", [
        (4, T(2024, 1, 1, 0, 45), 10, "click", 1.0, "{}"),
        (5, T(2024, 1, 1, 5, 45), 10, "click", 1.0, "{}"),
    ])
    now = _time.time()
    for i, f in enumerate(["a_events", "b_events", "c_events"]):
        _os.utime(d / f"{f}.parquet", (now - 300 + i * 60, now - 300 + i * 60))

    stream = sev.read_events_stream(spark, str(d), glob="*.parquet")
    agg = sev.windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    sev.run_to_memory_sink(agg, "late_counts", mode="append")
    got = spark.sql("SELECT * FROM late_counts").toPandas()

    # exactly one finalized window, with only the on-time event —
    # the late row neither re-opened nor re-emitted it
    assert len(got) == 1, got
    assert got.iloc[0]["window_start"] == T(2024, 1, 1, 0, 0)
    assert int(got.iloc[0]["n"]) == 1


def test_streaming_exact_dedup_suppresses_duplicates(spark, tmp_path):
    """Duplicate keys across micro-batches (within the watermark) are
    suppressed; distinct keys all pass through."""
    import datetime as dt
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lsd2_spark.streaming import events as sev

    def write_events(path, rows):
        ids, tss, uids, types, vals, props = zip(*rows)
        pq.write_table(
            pa.table({
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(list(tss), pa.timestamp("us")),
                "user_id": pa.array(uids, pa.int64()),
                "event_type": pa.array(types),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(props),
            }),
            path,
        )

    T = dt.datetime
    d = tmp_path / "dd"
    d.mkdir()
    write_events(d / "a_events.parquet", [
        (1, T(2024, 1, 1, 0, 10), 10, "click", 1.0, "{}"),
        (2, T(2024, 1, 1, 0, 20), 11, "click", 1.0, "{}"),
    ])
    write_events(d / "b_events.parquet", [
        (1, T(2024, 1, 1, 0, 30), 10, "click", 9.0, "{}"),  # dup event_id
        (3, T(2024, 1, 1, 0, 40), 12, "click", 1.0, "{}"),
    ])
    now = _time.time()
    _os.utime(d / "a_events.parquet", (now - 120, now - 120))
    _os.utime(d / "b_events.parquet", (now - 60, now - 60))

    stream = sev.read_events_stream(spark, str(d), glob="*.parquet")
    deduped = sev.streaming_exact_dedup(stream, ["event_id"])
    sev.run_to_memory_sink(deduped, "dedup_stream", mode="append")
    got = spark.sql(
        "SELECT event_id, value FROM dedup_stream ORDER BY event_id"
    ).toPandas()
    assert got["event_id"].tolist() == [1, 2, 3]
    # the FIRST arrival won: the duplicate's value 9.0 was suppressed
    assert got.loc[got["event_id"] == 1, "value"].iloc[0] == 1.0


def test_session_windows_match_batch_sessionization(spark):
    """Native session windows over the full events stream must agree
    with the batch q12 sessionization on (user, session count) and on
    total events — same 30-minute gap rule."""
    from lsd2_spark.queries import all_queries, load_table
    from lsd2_spark.streaming import events as sev

    stream = sev.read_events_stream(spark, SF_DIR)
    sess = sev.session_window_stats(stream, gap_min=30, watermark="100 days")
    sev.run_to_memory_sink(sess, "sess_windows", mode="complete")
    got = spark.sql("SELECT * FROM sess_windows").toPandas()

    batch = all_queries()["q12_sessionize"](spark, SF_DIR).toPandas()
    g = got.groupby("user_id").agg(n_sessions=("session_start", "count"),
                                   n_events=("n_events", "sum"))
    b = batch.set_index("user_id")[["n_sessions", "n_events"]]
    merged = g.join(b, how="outer", lsuffix="_s", rsuffix="_b").fillna(-1)
    assert (merged["n_sessions_s"] == merged["n_sessions_b"]).all()
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    # sessions are well-formed: start < end, no intra-user overlap
    for uid, grp in got.groupby("user_id"):
        grp = grp.sort_values("session_start")
        assert (grp["session_start"] < grp["session_end"]).all()
        assert (grp["session_start"].iloc[1:].to_numpy()
                >= grp["session_end"].iloc[:-1].to_numpy()).all()


def test_stream_stream_interval_join_matches_batch(spark):
    """interval_join_streams (clicks->purchases within 30 min per user)
    must agree with the equivalent batch range join, and its state must
    be watermark-bounded (both sides carry event-time watermarks)."""
    from lsd2_spark.queries import load_table
    from lsd2_spark.streaming import events as sev

    clicks = sev.read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    purchases = sev.read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts", "value")

    joined = sev.interval_join_streams(
        clicks, purchases, key="user_id", window_min=30, watermark_min=120
    ).select("l_event_id", "r_event_id", "r_value")
    sev.run_to_memory_sink(joined, "sj_out", mode="append")
    got = (
        spark.sql("SELECT * FROM sj_out")
        .toPandas()
        .sort_values(["l_event_id", "r_event_id"])
        .reset_index(drop=True)
    )

    ev = load_table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_event_id"), "user_id", F.col("ts").alias("lts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("rts"),
        F.col("value").alias("r_value"),
    )
    batch = (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") < F.col("lts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select("l_event_id", "r_event_id", "r_value")
        .toPandas()
        .sort_values(["l_event_id", "r_event_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch) > 0
    assert got["l_event_id"].tolist() == batch["l_event_id"].tolist()
    assert got["r_event_id"].tolist() == batch["r_event_id"].tolist()
    assert got["r_value"].tolist() == batch["r_value"].tolist()


def test_text_curation_ops_compose_on_streams(spark, tmp_path):
    """The curation operators are pure Column expressions, so the SAME
    functions run unchanged on a readStream and agree with batch — the
    incremental corpus-curation path needs no separate code."""
    from lsd2_spark.operators import text_analysis
    from lsd2_spark.operators.packing import split_passages

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    d = tmp_path / "docs_stream"
    docs.repartition(3).write.mode("overwrite").parquet(str(d))

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )

    from lsd2_spark.streaming import events as sev

    def curate_stream(df):
        # scrub -> inline quality columns (pure projection, no join,
        # so the identical plan is legal on both stream and batch) ->
        # threshold -> passage windows
        scrubbed = text_analysis.redact_pii(df, "text")
        from lsd2_spark.operators.text_analysis import _quality_cols

        keep = scrubbed.select(
            "doc_id", "text", *_quality_cols("text")
        ).filter("quality >= 30")
        return split_passages(keep, "text", "doc_id", max_tokens=32, stride=32)

    sev.run_to_memory_sink(curate_stream(stream), "curated_passages", mode="append")
    got = (
        spark.sql("SELECT doc_id, passage_idx, passage FROM curated_passages")
        .toPandas()
        .sort_values(["doc_id", "passage_idx"])
        .reset_index(drop=True)
    )
    want = (
        curate_stream(docs)
        .select("doc_id", "passage_idx", "passage")
        .toPandas()
        .sort_values(["doc_id", "passage_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)


def test_streaming_auto_rebalance_keeps_density_contract(spark, tmp_path):
    """A stream that keeps densifying one region must not degenerate:
    with auto_rebalance the final catalog has no over-threshold cell,
    all rows landed exactly once, and the metadata is consistent."""
    import numpy as np
    import pandas as pd

    from lsd2_spark.catalog import Catalog, partition_catalog
    from lsd2_spark.streaming import events as sev

    rng = np.random.default_rng(17)

    def batch_pdf(n, offset):
        return pd.DataFrame(
            {
                "sid": np.arange(offset, offset + n, dtype=np.int64),
                # every batch piles onto the same hotspot
                "ra": rng.normal(200.0, 0.3, n) % 360,
                "dec": np.clip(rng.normal(5.0, 0.3, n), -89, 89),
            }
        )

    cat = partition_catalog(
        spark.createDataFrame(batch_pdf(300, 0)),
        str(tmp_path / "cat"), "scat",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=400, order_k=3, write_margins=False,
    )
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    n_batches, per_batch = 6, 300
    for b in range(n_batches):
        spark.createDataFrame(batch_pdf(per_batch, 1000 + b * per_batch)).write.parquet(
            str(inbox / f"b{b}")
        )

    stream = (
        spark.readStream.schema("sid long, ra double, dec double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{inbox}/*")
    )
    writer = sev.stream_into_catalog(
        stream, cat, auto_rebalance=True, rebalance_every=2
    )
    writer.run_available(str(tmp_path / "ckpt"))
    final = writer.catalog

    total = 300 + n_batches * per_batch
    assert final.meta.n_sources == total
    assert final.df().count() == total
    cells = {
        (r["Norder"], r["Npix"]): r["count"]
        for r in final.df().groupBy("Norder", "Npix").count().collect()
    }
    assert all(c <= 400 for c in cells.values()), cells
    assert final.fsck()["consistent"]


def test_streaming_batches_leave_one_file_per_cell(spark, tmp_path):
    """Each streamed batch rewrites its touched cells whole, so after N
    batches every cell, touched or not, holds exactly one Parquet file:
    a stream needs no compaction.  The first batch withdraws the margin
    export the catalog was ingested with."""
    import glob
    import os

    import numpy as np
    import pandas as pd

    from lsd2_spark.catalog import partition_catalog
    from lsd2_spark.streaming import events as sev

    rng = np.random.default_rng(23)

    def batch_pdf(n, offset):
        return pd.DataFrame(
            {
                "sid": np.arange(offset, offset + n, dtype=np.int64),
                "ra": rng.uniform(0, 360, n),
                "dec": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
            }
        )

    def files_per_cell(cat):
        out: dict = {}
        for f in glob.glob(f"{cat.path}/catalog/Norder=*/Dir=*/Npix=*/*.parquet"):
            out.setdefault(os.path.dirname(f), set()).add(os.path.basename(f))
        return out

    cat = partition_catalog(
        spark.createDataFrame(batch_pdf(300, 0)),
        str(tmp_path / "cat"), "ccat",
        ra_col="ra", dec_col="dec", id_col="sid",
        threshold=100_000, order_k=1, write_margins=True,
    )
    before = files_per_cell(cat)
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    n_batches, per_batch = 3, 150
    for b in range(n_batches):
        spark.createDataFrame(
            batch_pdf(per_batch, 1000 + b * per_batch)
        ).coalesce(1).write.parquet(str(inbox / f"b{b}.parquet"))

    stream = (
        spark.readStream.schema("sid long, ra double, dec double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox / "*.parquet"))
    )
    writer = sev.stream_into_catalog(stream, cat)
    writer.run_available(str(tmp_path / "ckpt"))
    final = writer.catalog

    assert len(writer.batch_stats) == n_batches
    after = files_per_cell(final)
    touched = [c for c, fs in after.items() if fs != before.get(c)]
    assert touched
    assert all(len(fs) == 1 for fs in after.values()), after
    assert final.meta.n_sources == 300 + n_batches * per_batch
    assert final.margin_df() is None
    assert not os.path.exists(f"{final.path}/neighbor")
    assert final.fsck()["consistent"]
