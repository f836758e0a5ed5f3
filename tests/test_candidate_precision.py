"""Candidate-precision regressions for the near-dup heavyweights
(VERDICT r8 item 3, porting the fuzzy-decontam collision-bound
pattern): on N UNRELATED documents/fingerprints at adversarial length,
the banding stage must emit candidates within an analytic bound —
band-collision growth, not output-pair count, is what actually kills
a 100 TB run when a hash family degrades."""

import random

import numpy as np
from pyspark.sql import functions as F

from lsd2_spark.operators.dedup import (
    hamming_band_candidates,
    hamming_neardup_pairs,
    lsh_candidate_pairs,
)
from lsd2_spark.operators.similarity import (
    embedding_neardup_candidates,
    embedding_neardup_pairs,
    hyperplane_lsh_topk,
)


def test_lsh_candidate_pairs_unrelated_long_docs_bounded(spark):
    """30 unrelated 8k-token docs over a 1M vocabulary (wide enough
    that two docs share ~64 tokens, true Jaccard ~0.004 — a 30k vocab
    would make every pair J~0.15-similar and the test vacuous): per
    band of 2 minhash rows the collision probability is ~J^2 ~ 1.6e-5,
    expected false candidates over C(30,2)*4 bands ~ 0.03.  A family
    regression — single-row buckets, long-doc minima concentrating in
    a shrunken domain — blows this up by orders of magnitude, which is
    exactly what this test is for."""
    rng = random.Random(13)

    def long_doc():
        return " ".join(f"w{rng.randrange(1_000_000)}" for _ in range(8_000))

    docs = spark.createDataFrame(
        [(i, long_doc()) for i in range(30)], "doc_id long, text string"
    )
    n_cands = lsh_candidate_pairs(docs, "text", "doc_id").count()
    assert n_cands <= 3, f"{n_cands} false candidates from unrelated docs"


def test_hamming_band_candidates_analytic_bound(spark):
    """200 unrelated 60-bit fingerprints (hash64 of the id — uniform in
    the family's own domain): banding 64 bits into 7 bands (9,9,...,10)
    gives expected candidates C(200,2) * (6*2^-9 + 2^-10) ~ 252.  Assert
    <= 3x expected (generous tail), and that the popcount filter keeps
    essentially none of them."""
    from lsd2_spark.functions.portable_hash import hash64

    fp = spark.range(200).select(
        F.col("id").alias("fid"), hash64(F.col("id")).alias("h")
    )
    bits, max_h = 60, 6
    n_bands = max_h + 1
    band_bits = bits // n_bands  # 8
    widths = [band_bits] * (n_bands - 1) + [bits - band_bits * (n_bands - 1)]
    n = 200
    expected = n * (n - 1) / 2 * sum(2.0 ** -w for w in widths)
    cands = hamming_band_candidates(fp, "fid", "h", bits=bits, max_hamming=max_h)
    n_cands = cands.count()
    assert n_cands <= 3 * expected + 10, (n_cands, expected)
    # sanity: candidates are a superset of the output pairs
    n_pairs = hamming_neardup_pairs(
        fp, "fid", "h", bits=bits, max_hamming=max_h
    ).count()
    assert n_pairs <= n_cands
    # 60 random bits within hamming 6 of each other ~ never happens
    assert n_pairs == 0


def test_embedding_neardup_candidates_bounded_and_superset(spark):
    """300 unrelated random unit vectors in d=32: per 4-bit sign-LSH
    table the collision probability of an unrelated pair is
    (1 - theta/pi)^4 with theta ~ pi/2 -> ~1/16; 16 tables give
    expected candidate fraction ~ 1-(1-1/16)^16 ~ 0.64 of all pairs —
    candidates are CHEAP here by design (the exact cosine filter does
    the work), so the regression pins the ratio's order of magnitude
    rather than a tight constant, and asserts the output respects the
    threshold filter over exactly this candidate set."""
    rng = np.random.RandomState(5)
    rows = [
        (i, [float(x) for x in rng.randn(32)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cands = embedding_neardup_candidates(df, "embedding", "vec_id").toPandas()
    all_pairs = 300 * 299 / 2
    assert len(cands) <= all_pairs  # distinct pairs, never multiplied
    pairs = embedding_neardup_pairs(
        df, "embedding", "vec_id", threshold=0.8
    ).toPandas()
    assert set(map(tuple, pairs[["id1", "id2"]].values)) <= set(
        map(tuple, cands[["id1", "id2"]].values)
    )
    # random 32-d directions essentially never reach cosine 0.8
    assert len(pairs) <= 2


def test_ngram_jaccard_candidates_restriction(spark):
    """candidates= restricts the exact-jaccard scoring to proposed
    pairs (the LSH-proposes / exact-verifies composition) and the
    scores on the surviving pairs are identical to the unrestricted
    run."""
    from lsd2_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "abcdefg", "en", "s"),
            (2, "abcdxyz", "en", "s"),
            (3, "abcdefg", "en", "s"),
            (4, "qqqq", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    full = ngram_jaccard_pairs(docs, "text", "doc_id", ["lang", "source"])
    full_rows = {(r["id1"], r["id2"]): r["jaccard"] for r in full.collect()}
    assert (1, 3) in full_rows and full_rows[(1, 3)] == 1.0

    # reversed and duplicated candidate rows normalize; pair (1,2) is
    # NOT proposed so it must not be scored even though it shares grams
    cand = spark.createDataFrame(
        [(3, 1), (1, 3), (2, 3)], "id1 long, id2 long"
    )
    sub = ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"], candidates=cand
    )
    sub_rows = {(r["id1"], r["id2"]): r["jaccard"] for r in sub.collect()}
    assert set(sub_rows) == {(1, 3), (2, 3)}
    for k, v in sub_rows.items():
        assert v == full_rows[k]

    # prune_members=True (the sparse-candidate optimization) must be
    # result-identical to the default
    pruned = ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"],
        candidates=cand, prune_members=True,
    )
    assert {
        (r["id1"], r["id2"]): r["jaccard"] for r in pruned.collect()
    } == sub_rows

    # degenerate (x, x) candidates (symmetric-join inputs) must not
    # surface as self-pairs at jaccard 1.0 — the unrestricted path
    # excludes them structurally (id1 < id2), so must this one
    selfy = spark.createDataFrame(
        [(1, 1), (2, 2), (1, 3)], "id1 long, id2 long"
    )
    selfed = ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"], candidates=selfy
    )
    assert {(r["id1"], r["id2"]) for r in selfed.collect()} == {(1, 3)}


def test_ngram_pair_count_estimate_and_unrestricted_warning(spark, caplog):
    """The unrestricted escape hatch is loud, not silent: every
    candidates=None call logs a warning, and ngram_pair_count_estimate
    reports the exact shared-gram join volume (Σ_gram C(cnt,2)) the
    self-join would materialize, per group."""
    import logging

    from lsd2_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_pair_count_estimate,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcdef", "en", "s"),   # grams abc bcd cde def
            (2, "abcdef", "en", "s"),   # identical: shares 4 grams with 1
            (3, "abcxyz", "en", "s"),   # shares abc with 1 and 2
            (4, "zzzzzz", "fr", "s"),   # lone group
        ],
        "doc_id long, text string, lang string, source string",
    )
    est = {
        (r["lang"], r["source"]): (r["est_join_rows"], r["n_docs"])
        for r in ngram_pair_count_estimate(
            docs, "text", "doc_id", ["lang", "source"]
        ).collect()
    }
    # en/s: grams bcd,cde,def appear twice (C(2,2)=1 each) and abc three
    # times (C(3,2)=3) -> 3*1 + 3 = 6 join rows; fr/s: zzz once -> 0
    assert est[("en", "s")] == (6, 3)
    assert est[("fr", "s")] == (0, 1)

    with caplog.at_level(logging.WARNING, logger="lsd2_spark.operators.dedup"):
        ngram_jaccard_pairs(docs, "text", "doc_id", ["lang", "source"])
    assert any("WITHOUT candidates=" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="lsd2_spark.operators.dedup"):
        ngram_jaccard_pairs(
            docs, "text", "doc_id", ["lang", "source"],
            candidates=docs.limit(0).selectExpr(
                "doc_id as id1", "doc_id as id2"
            ),
        )
    assert not any("WITHOUT candidates=" in r.message for r in caplog.records)


def test_auto_bits_density_rule():
    """n_bits='auto' reproduces the bench-measured operating points
    (5k rows -> 4 bits, 50k -> 7), floors at 4, and respects the
    int32 bucket-packing cap."""
    from lsd2_spark.operators.similarity import _auto_bits

    assert _auto_bits(5_000, 16) == 4
    assert _auto_bits(50_000, 16) == 7
    assert _auto_bits(10, 16) == 4  # floor: tiny corpora keep default
    assert _auto_bits(500_000, 16) == 11  # +log2(10) per decade
    assert _auto_bits(10**12, 16) == 26  # capped: (table << bits) fits int32


def test_embedding_neardup_auto_bits_runs_and_respects_threshold(spark):
    """The 'auto' path end-to-end: planted near-identical pair is
    found, and an explicit bad n_bits value fails loud."""
    import pytest
    from lsd2_spark.operators.similarity import _auto_bits

    rng = np.random.RandomState(7)
    base = rng.randn(32)
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in base + 0.01])]
    rows += [(i, [float(x) for x in rng.randn(32)]) for i in range(2, 200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_neardup_pairs(
        df, "embedding", "vec_id", threshold=0.95, n_bits="auto"
    ).toPandas()
    assert (0, 1) in set(map(tuple, got[["id1", "id2"]].values))
    assert (got["sim"] >= 0.95).all()
    with pytest.raises(ValueError, match="auto"):
        embedding_neardup_candidates(df, "embedding", "vec_id", n_bits="wide")


def test_auto_bits_ignores_invalid_vector_rows(spark):
    """ADVICE r11: the auto density rule must size buckets from the
    rows that actually LAND in buckets — null/ragged vectors are
    filtered before bucketing, so a corpus that is mostly nulls keeps
    the small-corpus bit width (here 5k valid rows -> 4 bits even with
    45k null rows attached; the unfiltered count would pick 7)."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(5000),
            "embedding": [
                [float(x) for x in rng.randn(8)] for _ in range(5000)
            ],
        }
    )
    valid = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    nulls = spark.range(45_000).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    corpus = valid.unionByName(nulls)
    auto = sorted(
        map(
            tuple,
            embedding_neardup_candidates(
                corpus, "embedding", "vec_id", n_bits="auto", n_tables=4
            ).collect(),
        )
    )
    explicit4 = sorted(
        map(
            tuple,
            embedding_neardup_candidates(
                corpus, "embedding", "vec_id", n_bits=4, n_tables=4
            ).collect(),
        )
    )
    assert auto == explicit4 and auto, (
        "auto bits diverged from the 5k-valid-row operating point — "
        "the density estimate is seeing filtered-out rows"
    )


def test_lsh_entry_points_reject_aliasing_bucket_tags(spark):
    """Bucket ids pack ``(table << n_bits) | code`` into an int32: past
    n_bits + ceil(log2(n_tables)) = 31 the tags of different tables
    alias and the first-match dedup emits a pair once per aliased
    table, so both entry points refuse such a configuration."""
    import pytest

    rows = [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="<= 31"):
        embedding_neardup_candidates(
            df, "embedding", "vec_id", n_bits=28, n_tables=16
        )
    with pytest.raises(ValueError, match="<= 31"):
        hyperplane_lsh_topk(
            df, df, "embedding", "vec_id", n_bits=30, n_tables=3
        )
    # the limit itself is accepted: 27 + ceil(log2(16)) = 29 + ceil(log2(3)) = 31
    embedding_neardup_candidates(df, "embedding", "vec_id", n_bits=27, n_tables=16)
    hyperplane_lsh_topk(df, df, "embedding", "vec_id", n_bits=29, n_tables=3)
