"""Benchmark decontamination: flag training documents that share long
word n-grams with an evaluation/benchmark set.

The standard pre-training hygiene pass (GPT-3 appendix C / PaLM §7
style): any training document containing an exact n-gram that also
appears in a held-out benchmark is marked contaminated so it can be
dropped or audited before training.

Scale shape: benchmark sets are tiny relative to the corpus (thousands
of documents vs billions), so the distinct eval n-gram set is
broadcast; the train side is a map-only explode feeding a broadcast
hash join — the only shuffle is the final per-document count
aggregation, which is partial-aggregable.  Nothing here is O(train ×
eval).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lsd2_spark.functions.arrays import let
from lsd2_spark.functions.portable_hash import WS


@dataclass
class NgramBloom:
    """A built n-gram Bloom filter WITH its probe parameters — carrying
    them together makes a build/probe mismatch (silent false negatives)
    unrepresentable."""

    bits: "np.ndarray"  # packed uint64 bitmap
    m_bits: int
    k_hashes: int
    n: int  # n-gram order


def word_ngrams(text: Column, n: int) -> Column:
    """Lower-cased whitespace-token word ``n``-grams as an array of
    space-joined strings; empty array when the document has fewer than
    ``n`` tokens (guards ``sequence``'s descending-range behavior)."""

    def grams(t: Column) -> Column:
        m = F.size(t) - F.lit(n - 1)
        return F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # the token array is bound once: closed over directly, it would be
    # re-split at every n-gram position (quadratic in document length)
    return let(F.split(F.lower(text), WS), grams)


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    hashed: bool = False,
    force_broadcast: bool = True,
) -> DataFrame:
    """Per-training-document contamination report against ``eval_df``.

    Returns one row per train document: ``n_eval_ngram_hits`` (distinct
    eval n-grams found in the document), ``worst_ngram`` (lexicographic
    max hit, for auditability — null in hashed mode), and
    ``contaminated`` (any hit).

    Scale knobs:
    - ``hashed=True`` joins on a 60-bit portable hash of each n-gram
      instead of the string — ~8 bytes/row instead of tens, shrinking
      the broadcast (or shuffle) by an order of magnitude.  Collisions
      can only ADD false contamination flags (never miss one), at
      ~(pairs)/2^60 probability — the conservative direction for
      decontamination.
    - ``force_broadcast=False`` leaves the join strategy to Catalyst —
      the right call when the eval set is too large to broadcast
      (AQE picks a shuffle join, and the per-doc aggregation is
      unchanged).
    """
    from lsd2_spark.functions.portable_hash import hash64

    join_col = "_ngh" if hashed else "ngram"
    ev = eval_df.select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("ngram")
    )
    tr = train.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("ngram"),
    )
    if hashed:
        ev = ev.select(hash64(F.col("ngram")).alias(join_col))
        tr = tr.select(id_col, hash64(F.col("ngram")).alias(join_col))
    ev = ev.distinct()
    if force_broadcast:
        ev = F.broadcast(ev)
    # join FIRST: it filters the exploded stream down to actual hits (a
    # sliver of the corpus) before anything shuffles, so the
    # per-document distinct-count aggregation moves only hit rows.
    hits = (
        tr.join(ev, join_col)
        .groupBy(id_col)
        .agg(
            F.count_distinct(F.col(join_col)).alias("n_eval_ngram_hits"),
            F.max(
                F.lit(None).cast("string") if hashed else F.col("ngram")
            ).alias("worst_ngram"),
        )
    )
    return (
        train.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_eval_ngram_hits"), F.lit(0)).alias(
                "n_eval_ngram_hits"
            ),
            F.col("worst_ngram"),
            (F.coalesce(F.col("n_eval_ngram_hits"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def build_ngram_bloom(
    eval_df: DataFrame,
    text_col: str,
    n: int = 5,
    m_bits: int = 1 << 23,
    k_hashes: int = 4,
) -> NgramBloom:
    """Distributed Bloom filter over the eval set's word n-grams
    (Spark 4 does not expose ``bloom_filter_agg`` to SQL/Python, so the
    build is explicit): each partition sets bits into its own bitmap
    (``mapInPandas`` partial, double hashing h1 + i·h2), the
    partition bitmaps OR-merge on the driver — one bounded
    ``m_bits/8``-byte row per partition crosses the wire, never the
    n-gram stream.

    Returns a packed uint64 NumPy bitmap for
    :func:`decontaminate_bloom`.  Sizing: ~1.2 bytes/element at 1% fpr
    with k=4; the default 8M bits covers ~870k n-grams at <1% fpr.
    """
    from lsd2_spark.functions.portable_hash import hash64

    words = m_bits // 64
    hashes = eval_df.select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    ).select(hash64(F.col("_g")).alias("_h"))

    def partial(batches):
        bm = np.zeros(words, dtype=np.uint64)
        for pdf in batches:
            h = pdf["_h"].to_numpy(dtype=np.int64).astype(np.uint64)
            h1 = h % np.uint64(m_bits)
            h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits)
            for i in range(k_hashes):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
                np.bitwise_or.at(
                    bm, (pos >> np.uint64(6)).astype(np.int64),
                    np.uint64(1) << (pos & np.uint64(63)),
                )
        yield pd.DataFrame({"_bm": [bm.tobytes()]})

    parts = hashes.mapInPandas(partial, "_bm binary").collect()
    out = np.zeros(words, dtype=np.uint64)
    for r in parts:
        out |= np.frombuffer(r["_bm"], dtype=np.uint64)
    return NgramBloom(bits=out, m_bits=m_bits, k_hashes=k_hashes, n=n)


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    m_bits: int = 1 << 23,
    k_hashes: int = 4,
    bloom: "NgramBloom | None" = None,
) -> DataFrame:
    """Bloom-prefiltered decontamination — the shape for eval sets too
    large to broadcast as a hash table: the bitmap (1 MB at the
    default sizing, vs tens of MB for the distinct n-gram set) screens
    the exploded train stream in an Arrow pass, and only the ~1%
    bloom-positive survivors enter the exact (hashed) join.  Bloom
    filters have NO false negatives, so the final flags are exactly
    those of :func:`decontaminate` — verified by test.

    Pass a prebuilt ``bloom`` (from :func:`build_ngram_bloom`) to
    reuse one filter across many train shards.
    """
    from lsd2_spark.functions.portable_hash import hash64

    if bloom is None:
        bloom = build_ngram_bloom(eval_df, text_col, n, m_bits, k_hashes)
    # a prebuilt filter's own parameters win: probing with mismatched
    # m_bits/k_hashes/n would silently produce false negatives
    m_bits, k_hashes, n = bloom.m_bits, bloom.k_hashes, bloom.n
    spark = train.sparkSession
    bc = spark.sparkContext.broadcast(bloom.bits)

    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def might_contain(h: pd.Series) -> pd.Series:
        bm = bc.value
        hv = h.to_numpy(dtype=np.int64).astype(np.uint64)
        h1 = hv % np.uint64(m_bits)
        h2 = (hv >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits)
        ok = np.ones(len(hv), dtype=bool)
        for i in range(k_hashes):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            bit = (
                bm[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))
            ) & np.uint64(1)
            ok &= bit.astype(bool)
        return pd.Series(ok)

    tr = (
        train.select(
            F.col(id_col),
            F.explode(word_ngrams(F.col(text_col), n)).alias("_g"),
        )
        .select(F.col(id_col), hash64(F.col("_g")).alias("_ngh"))
        .filter(might_contain(F.col("_ngh")))
    )
    ev = (
        eval_df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("_g"))
        .select(hash64(F.col("_g")).alias("_ngh"))
        .distinct()
    )
    hits = (
        tr.join(ev, "_ngh")  # exact confirm: kills bloom false positives
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("_ngh")).alias("n_eval_ngram_hits"))
    )
    return (
        train.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_eval_ngram_hits"), F.lit(0)).alias(
                "n_eval_ngram_hits"
            ),
            F.lit(None).cast("string").alias("worst_ngram"),
            (F.coalesce(F.col("n_eval_ngram_hits"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )

def fuzzy_decontam_candidates(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    bands: int = 16,
    rows_per_band: int = 1,
) -> DataFrame:
    """The candidate (band-collision) stage of
    :func:`fuzzy_decontaminate`, exposed so its volume can be measured
    and regression-tested independently of the exact-verify filter —
    candidate volume, not verified output, is the quantity that
    degrades first at scale (the same instrumentation contract as
    ``hamming_band_candidates`` / ``embedding_neardup_candidates``).
    Returns distinct ``(_tid, _eid)`` pairs that share at least one
    salted-minhash band bucket."""
    from lsd2_spark.functions.portable_hash import MOD, hash64
    from lsd2_spark.operators.common import spread_partitions

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if not 1 <= rows_per_band <= 3:
        # bucket packing of MOD-reduced rows fits int64 only to MOD^3
        raise ValueError(f"rows_per_band must be in 1..3, got {rows_per_band}")
    k = bands * rows_per_band

    shingles = F.array_distinct(word_ngrams(F.col(text_col), n))
    # one salt per signature row; the salt byte cannot occur in a
    # shingle (shingles are \x1f-free word joins), so salted domains
    # never alias each other
    salts = [f"fz{j}\x1f" for j in range(k)]

    def tag(df: DataFrame, out_id: str) -> DataFrame:
        # ONE projection for all k salted-minimum rows (the former
        # per-column withColumn loop re-analyzed the plan k times —
        # pure driver latency, guide §7.3); expressions are identical
        def salted_min(salt: str) -> Column:
            return F.array_min(
                F.transform(
                    F.col("_sh"), lambda s: hash64(F.concat(F.lit(salt), s))
                )
            )

        sig = df.select(F.col(id_col).alias(out_id), shingles.alias("_sh")).select(
            out_id,
            *[salted_min(salt).alias(f"mh{j}") for j, salt in enumerate(salts)],
        )

        def bucket_of(b: int):
            # 60-bit minima cannot be packed raw; reduce each to the
            # MOD domain for the bucket key only (a collision adds a
            # candidate at ~1/MOD — exact-verified away)
            parts = [
                F.col(f"mh{j}") % MOD
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]
            expr = parts[0]
            for p in parts[1:]:
                expr = expr * MOD + p  # fits: MOD^3 < 2^63
            return expr

        # every band row CARRIES all of its document's band buckets
        # (_bk0.._bk{bands-1}) so the join below can emit each pair
        # only from its FIRST matching band — a map-side filter that
        # replaces the former dropDuplicates exchange over the RAW
        # collision multiset (the same in-stage dedup the minhash LSH
        # self-join uses, dedup.py).  The extra columns never ride a
        # shuffle: the eval side is broadcast and the train side is
        # projected back to (_tid, _eid) in-stage.
        sig = sig.select(
            out_id, *[bucket_of(b).alias(f"_bk{b}") for b in range(bands)]
        )
        band_cols = [
            F.struct(F.lit(b).alias("band"), F.col(f"_bk{b}").alias("bucket"))
            for b in range(bands)
        ]
        return sig.withColumn("_band", F.explode(F.array(*band_cols))).select(
            out_id,
            "_band.band",
            "_band.bucket",
            *[f"_bk{b}" for b in range(bands)],
        )

    tt = tag(spread_partitions(train), "_tid").alias("t")
    et = tag(eval_df, "_eid").alias("e")
    # emit each (train, eval) pair only from its first matching band:
    # band b survives iff no earlier band b' also collided.  A pair's
    # buckets are all non-null whenever any band matched (the minima
    # are all-or-nothing null per document), so the != tests below
    # never see a NULL.
    keep = F.when(F.col("t.band") == 0, F.lit(True))
    for b in range(1, bands):
        no_earlier = F.lit(True)
        for bp in range(b):
            no_earlier = no_earlier & (
                F.col(f"t._bk{bp}") != F.col(f"e._bk{bp}")
            )
        keep = keep.when(F.col("t.band") == b, no_earlier)
    return (
        tt.join(
            F.broadcast(et),
            (F.col("t.band") == F.col("e.band"))
            & (F.col("t.bucket") == F.col("e.bucket")),
        )
        .filter(keep.otherwise(F.lit(False)))
        .select("_tid", "_eid")
    )


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    min_jaccard: float = 0.5,
    n: int = 3,
    bands: int = 16,
    rows_per_band: int = 1,
) -> DataFrame:
    """Near-duplicate decontamination: flag training documents whose
    distinct word-``n``-gram (shingle) Jaccard similarity to ANY
    evaluation document reaches ``min_jaccard`` — the companion to
    :func:`decontaminate` for leakage that exact long-n-gram matching
    misses (an eval passage with every 6th word edited contains no
    shared 8-gram, but ~a third of its 3-gram shingles survive, giving
    shingle-Jaccard ~0.3 while unrelated documents sit near 0; this is
    the Llama-style fuzzy decontamination signal).

    Shingles, not unigram token sets, on purpose: corpora with a
    narrow shared vocabulary make every pair of documents look alike
    under unigram Jaccard (measured: 73% of a synthetic corpus
    false-flagged at 0.7), while word ORDER still separates them —
    shingle Jaccard between unrelated same-vocabulary docs is tiny.
    ``n=1`` recovers token-set behavior if wanted.

    Returns one row per train document: ``fuzzy_contaminated``,
    ``matched_eval_id`` (the most similar flagged eval doc; ties to
    the smaller id), and ``jaccard`` (exact distinct-shingle Jaccard
    to it; NULL when clean).

    Signature family: each of the ``bands * rows_per_band`` signature
    rows is the minimum of an INDEPENDENT salted 60-bit hash of the
    shingles (``hash64(salt_j || shingle)``) — exactly minwise
    (P(min agree) = J per row) and over the full hash domain.  Two
    rejected alternatives, for the record: the MOD-reduced affine
    family the dedup operators use concentrates a long document's
    minimum at ~MOD/m, so unrelated long docs band-collide at ~m/(2*MOD)
    (~2.5%/band at 50k shingles) and the candidate set degrades toward
    O(train x eval); XOR-with-constant stays in the full domain but is
    a WEAK minwise family (high bits dominate, bands correlate —
    measured recall 15/20 vs the salted family's 20/20 on planted
    edits).  The salt costs one extra md5 per signature row; a run-once
    hygiene pass trades that for recall, and ``bands`` is the knob.

    Candidate recall: a pair with true Jaccard J survives banding with
    probability ``1-(1-J^rows_per_band)^bands`` — the default 16x1
    keeps ~99.8% recall at J=0.33 and 100% at J=1.

    Scale shape: both sides get shingle-minhash signatures
    (projection-only); the eval side's band table is BROADCAST (eval
    sets are tiny), so candidate generation is a map-side join — never
    O(train x eval).  Only candidate hits are exact-verified, joining
    the (small) candidate list back to the shingle arrays with the
    eval side again broadcast; the per-document argmax is two
    partial-aggregable groupBys over the verified sliver.
    """
    if not 0.0 < min_jaccard <= 1.0:
        raise ValueError(f"min_jaccard must be in (0, 1], got {min_jaccard}")
    from lsd2_spark.operators.common import cut_lineage

    shingles = F.array_distinct(word_ngrams(F.col(text_col), n))
    # the candidate pair list is cut so the broadcast build below reads
    # a materialized sliver instead of re-running the whole 16-salted-
    # md5 signature pipeline inside a BroadcastExchange (a full-corpus
    # scan inside a broadcast build would race spark.sql.broadcastTimeout
    # at scale); the list itself is the selective sliver banding exists
    # to produce, so materializing it is cheap
    cands = cut_lineage(
        fuzzy_decontam_candidates(
            train, eval_df, text_col, id_col,
            n=n, bands=bands, rows_per_band=rows_per_band,
        )
    )

    # exact verify over the SAME shingle sets the signatures hashed.
    # ONE broadcast of the candidate list, grouped per train doc: the
    # inner join both restricts train to candidate docs (the former
    # separate distinct + semi-join) and attaches each doc's matched
    # eval ids — only candidate train docs get their shingle array
    # computed (at scale the candidate sliver is tiny against the
    # train corpus), and it is computed ONCE per doc, below the
    # explode.  The former shape built two broadcast exchanges (the
    # distinct id list and the pair list) from the same cut frame.
    per_doc = cands.groupBy("_tid").agg(F.collect_list("_eid").alias("_eids"))
    train_sh = (
        train.join(F.broadcast(per_doc), train[id_col] == per_doc["_tid"])
        .select("_tid", shingles.alias("_tsh"), "_eids")
    )
    pairs = train_sh.select(
        "_tid", "_tsh", F.explode("_eids").alias("_eid")
    )
    eval_sh = eval_df.select(F.col(id_col).alias("_eid"), shingles.alias("_esh"))
    inter = F.size(F.array_intersect(F.col("_tsh"), F.col("_esh")))
    union = F.size(F.array_union(F.col("_tsh"), F.col("_esh")))
    verified = (
        pairs.join(F.broadcast(eval_sh), "_eid")
        .select(
            "_tid",
            "_eid",
            F.try_divide(inter.cast("double"), union).alias("_j"),
        )
        .filter(F.col("_j") >= float(min_jaccard))
    )
    # per-train argmax, ties to the smaller eval id — ONE windowed
    # top-1 over the (small) verified set.  A window, not the former
    # max-aggregate + join-back: that shape consumed `verified` twice,
    # and Spark re-executes a common subplan per consumer — the whole
    # signature + candidate + verify pipeline (16 salted-md5 passes
    # over the train corpus) ran once per branch.  The rank<=1 filter
    # plans as WindowGroupLimit with a map-side Partial phase, so the
    # shuffle moves at most one row per (train doc, partition).
    from pyspark.sql.window import Window

    w = Window.partitionBy("_tid").orderBy(F.desc("_j"), F.asc("_eid"))
    best = (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = train.select(F.col(id_col)).join(
        best, train[id_col] == best["_tid"], "left"
    )
    return out.select(
        F.col(id_col),
        F.col("_tid").isNotNull().alias("fuzzy_contaminated"),
        F.col("_eid").alias("matched_eval_id"),
        F.col("_j").alias("jaccard"),
    )
