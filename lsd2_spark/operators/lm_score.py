"""Character n-gram language-model scoring — the perplexity-proxy
quality filter (the role KenLM plays in CCNet/RedPajama-style
pipelines, built here from corpus statistics alone).

Train: one pass over a reference corpus counts character trigrams and
their bigram contexts; the conditional log-probability table
``log P(c | bigram)`` (with add-one smoothing over the observed
alphabet) is itself a DataFrame — persist it, broadcast it, reuse it.

Score: explode each document's trigrams, broadcast-join the logprob
table, average per document.  Gibberish and non-reference-language
text draw from unseen contexts and score sharply lower, so a single
threshold separates them — exactly how the real pipelines gate.

Scale shape: training is two partial-aggregable groupBys over the
reference sample (reference corpora are samples, not the full 100 TB);
scoring is explode → broadcast join → per-doc avg, shuffling only the
(doc, trigram) stream reduced by map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsd2_spark.functions.arrays import let
from lsd2_spark.functions.portable_hash import WS

from lsd2_spark.functions.numeric import round6

__all__ = [
    "train_char_lm",
    "lm_score",
    "train_word_lm",
    "word_lm_score",
    "lm_score_combined",
]

# floor for unseen trigrams: log(1/(context_count + V)) bounded by the
# global unseen penalty so scores stay finite and comparable
_UNSEEN_PENALTY = -12.0


def _char_ngrams(text_col: str, n: int) -> "F.Column":
    """All overlapping character ``n``-grams of the lower-cased,
    whitespace-collapsed text (pure Column: substring over a start
    sequence)."""
    t = F.concat(
        F.lit(" "),  # BOS pad so leading chars get context
        F.regexp_replace(F.lower(F.col(text_col)), WS, " "),
    )

    def grams(t: "F.Column") -> "F.Column":
        m = F.length(t) - F.lit(n - 1)
        return F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m), lambda i: F.substring(t, i, n)
            ),
        ).otherwise(F.array().cast("array<string>"))

    # bound once: closed over, the normalized text would be rebuilt at
    # every character position (quadratic in document length)
    return let(t, grams)


def train_char_lm(corpus: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Train the conditional table: one row per observed ``n``-gram
    with ``logp = ln((count + 1) / (context_count + V))``, where the
    context is the n-gram's ``n-1``-char prefix and V the distinct
    final-character alphabet (add-one smoothing)."""
    from lsd2_spark.operators.common import spread_partitions

    grams = spread_partitions(corpus).select(
        F.explode(_char_ngrams(text_col, n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    withctx = counts.withColumn("ctx", F.substring(F.col("gram"), 1, n - 1))
    ctx_tot = withctx.groupBy("ctx").agg(F.sum("c").alias("ctx_c"))
    v = counts.select(
        F.count_distinct(F.substring(F.col("gram"), n, 1)).alias("v")
    )
    return (
        withctx.join(ctx_tot, "ctx")
        .crossJoin(F.broadcast(v))
        .select(
            "gram",
            F.log((F.col("c") + 1.0) / (F.col("ctx_c") + F.col("v"))).alias(
                "logp"
            ),
        )
    )


def lm_score(
    docs: DataFrame,
    model: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Average per-trigram log-probability of each document under the
    trained model (unseen trigrams take the fixed floor penalty).
    Higher = more like the reference corpus; threshold to filter.

    Total over the input: documents too short to produce a trigram
    (or with NULL text) keep their row with ``n_grams = 0`` and a NULL
    score, so downstream joins never silently drop them.

    Returns (id, n_grams, avg_logp)."""
    from lsd2_spark.operators.common import spread_partitions

    grams = spread_partitions(docs).select(
        F.col(id_col), F.explode(_char_ngrams(text_col, n)).alias("gram")
    )
    scored = grams.join(F.broadcast(model), "gram", "left").select(
        F.col(id_col),
        F.coalesce(F.col("logp"), F.lit(_UNSEEN_PENALTY)).alias("logp"),
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        round6(F.avg("logp")).alias("avg_logp"),
    )
    return (
        docs.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.col("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# Word-level bigram LM with interpolated backoff — the KenLM-shaped
# upgrade over the char-trigram model: word identity carries far more
# signal, and interpolation (Jelinek-Mercer) keeps unseen bigrams
# scored by their unigram mass instead of a flat floor.
# ---------------------------------------------------------------------------

_WLM_LAMBDA = 0.7  # weight on the bigram ML estimate


def _word_tokens(text_col: str) -> "F.Column":
    # empty tokens from leading/trailing whitespace (or an empty doc)
    # must not become bigram partners: "" would score as a real word
    # through the unigram floor and an empty doc would claim
    # n_bigrams = 1 ("<s>" -> "") instead of the documented 0
    return F.filter(
        F.split(
            F.concat(
                F.lit("<s> "),
                F.regexp_replace(F.lower(F.col(text_col)), WS, " "),
            ),
            " ",
        ),
        lambda x: x != F.lit(""),
    )


def _word_bigrams(text_col: str) -> "F.Column":
    t = _word_tokens(text_col)
    n = F.size(t)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def train_word_lm(
    corpus: DataFrame,
    text_col: str,
    lam: float = _WLM_LAMBDA,
    max_vocab: int | None = 500_000,
    max_bigrams: int | None = 2_000_000,
) -> dict:
    """Interpolated word-bigram model from a reference corpus:

        P(w2 | w1) = lam * c(w1 w2)/c(w1)  +  (1-lam) * (c(w2)+1)/(T+V)

    (Jelinek-Mercer interpolation with add-one-smoothed unigrams).
    Two partial-aggregable groupBys over the reference sample; returns
    ``{"bigram": DataFrame(bigram, p_ml), "unigram":
    DataFrame(word, p_uni), "lam": lam, "floor": 1/(T+V)}`` — the two
    tables broadcast at score time, the scalars are plan-sized.

    ``max_vocab`` / ``max_bigrams`` bound the score-time broadcast
    (deterministic top-N by count, word-order tiebreak — a
    TakeOrdered, no global sort): distinct word bigrams grow without
    bound with the reference corpus, and an unbounded table blows the
    broadcast ceiling.  The defaults keep both tables ~100 MB.  Dropped
    entries are NOT lost probability mass — a truncated bigram backs
    off to its unigram term and a truncated word to the add-one floor,
    the exact smoothing path unseen n-grams already take (T, V, and the
    per-``w1`` denominators are computed over the FULL corpus first, so
    every retained estimate is the true ML value).  Pass ``None`` for
    either cap to keep the full table; scoring then joins it without a
    broadcast hint and lets the optimizer pick a shuffle join."""
    from lsd2_spark.operators.common import spread_partitions

    corpus = spread_partitions(corpus)
    toks = corpus.select(F.explode(_word_tokens(text_col)).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    stats = uni.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    t_plus_v = float(stats["t"] + stats["v"])
    if max_vocab is not None:
        uni = uni.orderBy(F.desc("c"), F.asc("w")).limit(int(max_vocab))
    unigram = uni.select(
        "w", ((F.col("c") + 1.0) / F.lit(t_plus_v)).alias("p_uni")
    )
    big = corpus.select(F.explode(_word_bigrams(text_col)).alias("bg"))
    bcounts = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    w1c = (
        bcounts.withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    if max_bigrams is not None:
        bcounts = bcounts.orderBy(F.desc("c12"), F.asc("bg")).limit(
            int(max_bigrams)
        )
    bigram = (
        bcounts.withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(w1c, "w1")
        .select("bg", (F.col("c12") / F.col("c1")).alias("p_ml"))
    )
    return {
        "bigram": bigram,
        "unigram": unigram,
        "lam": float(lam),
        "floor": 1.0 / t_plus_v,
        # per-table: capping only the bigram table (the realistic
        # config — it is the one that grows without bound) must still
        # earn the bigram join its broadcast hint
        "bounded_unigram": max_vocab is not None,
        "bounded_bigram": max_bigrams is not None,
    }


def word_lm_score(
    docs: DataFrame,
    model: dict,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Average per-bigram ``ln P(w2|w1)`` under the interpolated model.
    Unseen bigrams back off to the unigram term; unseen words take the
    add-one floor — always finite, no flat penalty cliff.

    Scale shape: explode → TWO broadcast joins (bigram + unigram
    tables) → per-doc partial-agg average.  Total: NULL/empty docs keep
    their row with ``n_bigrams = 0`` and NULL score."""
    lam, floor = model["lam"], model["floor"]

    # force-broadcast only the tables training actually bounded; an
    # uncapped table may exceed the broadcast ceiling, so it is left to
    # the optimizer (which still broadcasts when the stats say it fits)
    def hint_if(bounded_key: str):
        # legacy "bounded" models (both-or-neither) stay supported
        bounded = model.get(bounded_key, model.get("bounded", False))
        return F.broadcast if bounded else (lambda d: d)

    from lsd2_spark.operators.common import spread_partitions

    hint_big = hint_if("bounded_bigram")
    hint_uni = hint_if("bounded_unigram")
    # spread only the exploding grams side; the narrow totality join
    # below reads the RAW frame — routing it through the spread stacked
    # a RoundRobin exchange under the join's hash exchange, shuffling
    # the full id set twice (lm_score above already has this shape)
    base_ids = docs.select(F.col(id_col))
    docs = spread_partitions(docs)
    grams = docs.select(
        F.col(id_col), F.explode(_word_bigrams(text_col)).alias("bg")
    ).withColumn("w2", F.split(F.col("bg"), " ").getItem(1))
    scored = (
        grams.join(hint_big(model["bigram"]), "bg", "left")
        .join(
            hint_uni(model["unigram"]),
            grams["w2"] == model["unigram"]["w"],
            "left",
        )
        .select(
            F.col(id_col),
            F.log(
                F.lit(lam) * F.coalesce(F.col("p_ml"), F.lit(0.0))
                + F.lit(1.0 - lam) * F.coalesce(F.col("p_uni"), F.lit(floor))
            ).alias("logp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        round6(F.avg("logp")).alias("avg_logp"),
    )
    return (
        base_ids
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.col("avg_logp"),
        )
    )


def lm_score_combined(
    docs: DataFrame,
    char_model: DataFrame,
    word_model: dict,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Score every document under BOTH models in one aggregation pass:
    the union of the char-trigram and word-bigram scored streams (each
    tagged by null-padding the other's column) feeds a single per-doc
    groupBy, so a caller that wants both scores pays ONE aggregation
    exchange and ONE totality join instead of two of each plus a final
    doc_id join.  Per-doc value multisets are exactly those of
    :func:`lm_score` / :func:`word_lm_score` (count/avg ignore the
    null pad), so results are identical.

    Returns (id, n_grams, avg_logp, n_bigrams, word_avg_logp)."""
    from lsd2_spark.operators.common import spread_partitions

    lam, floor = word_model["lam"], word_model["floor"]

    def hint_if(bounded_key: str):
        bounded = word_model.get(bounded_key, word_model.get("bounded", False))
        return F.broadcast if bounded else (lambda d: d)

    base_ids = docs.select(F.col(id_col))
    spread = spread_partitions(docs)
    null_d = F.lit(None).cast("double")

    cg = spread.select(
        F.col(id_col), F.explode(_char_ngrams(text_col, n)).alias("gram")
    )
    c_scored = cg.join(F.broadcast(char_model), "gram", "left").select(
        F.col(id_col),
        F.coalesce(F.col("logp"), F.lit(_UNSEEN_PENALTY)).alias("_c"),
        null_d.alias("_w"),
    )

    wg = spread.select(
        F.col(id_col), F.explode(_word_bigrams(text_col)).alias("bg")
    ).withColumn("w2", F.split(F.col("bg"), " ").getItem(1))
    w_scored = (
        wg.join(hint_if("bounded_bigram")(word_model["bigram"]), "bg", "left")
        .join(
            hint_if("bounded_unigram")(word_model["unigram"]),
            wg["w2"] == word_model["unigram"]["w"],
            "left",
        )
        .select(
            F.col(id_col),
            null_d.alias("_c"),
            F.log(
                F.lit(lam) * F.coalesce(F.col("p_ml"), F.lit(0.0))
                + F.lit(1.0 - lam) * F.coalesce(F.col("p_uni"), F.lit(floor))
            ).alias("_w"),
        )
    )

    agg = (
        c_scored.unionByName(w_scored)
        .groupBy(id_col)
        .agg(
            F.count("_c").alias("n_grams"),
            round6(F.avg("_c")).alias("avg_logp"),
            F.count("_w").alias("n_bigrams"),
            round6(F.avg("_w")).alias("word_avg_logp"),
        )
    )
    return base_ids.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.col("avg_logp"),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.col("word_avg_logp"),
    )
