"""Unigram-LM perplexity scoring (the CCNet quality-bucketing signal).

CCNet (Wenzek et al. 2020) ranks web documents by language-model
perplexity and keeps the low-perplexity head/middle; the production system
uses a KenLM 5-gram, which needs model files this environment cannot ship.
The *pipeline shape* is identical with a corpus-trained unigram model —
train token frequencies on the corpus itself, score each document by mean
negative log-likelihood, bucket — and a unigram model has the decisive
property here that every step is exact relational algebra, so the whole
path is checkable against a SQL oracle.  Swapping in KenLM later changes
only the scoring UDF, none of the Spark plan.

Scale design:

- ``unigram_model``: explode → groupBy(word) count.  ONE shuffle with
  map-side partial combine; the model table is vocabulary-sized (~10^7
  rows at web scale with a vocab cap), i.e. broadcastable.
- ``perplexity``: explode → broadcast-join the model → per-doc avg.  The
  join is broadcast (model ≪ corpus) so the only real shuffle is the
  per-doc aggregation, which partial-combines and carries one row per
  document.  Words of a document stay contiguous in their partition
  (explode preserves locality), so partial sums accumulate in word order
  — deterministic across runs, which is what lets the floor-quantized
  BIGINT output hash-match the oracle.
- ``ppl_buckets``: exact NTILE for test scale (global sort — fine up to
  ~10^8 docs); at corpus scale pass ``thresholds`` computed from
  ``approxQuantile`` on a sample (the CCNet approach) so bucketing is a
  pushed-down CASE filter with no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.pin import pin


def _words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("_w"),
    )


def unigram_model(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  vocab_size: int | None = None) -> DataFrame:
    """(word, cnt) token frequencies over the corpus; with ``vocab_size``,
    only the top-V words by (cnt DESC, word ASC) — everything else scores
    as out-of-vocabulary downstream (add-one smoothing keeps p > 0).

    The top-V cut is a global sort-limit over the VOCABULARY table (not
    the corpus) — cheap at any corpus size."""
    counts = (
        _words(df, text_col, id_col)
        .groupBy("_w")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("_w").alias("word"), "cnt")
    )
    if vocab_size is not None:
        counts = counts.orderBy(
            F.col("cnt").desc(), F.col("word").asc()
        ).limit(vocab_size)
    return counts


def perplexity(df: DataFrame, model: DataFrame | None = None,
               text_col: str = "text", id_col: str = "doc_id",
               vocab_size: int | None = None) -> DataFrame:
    """Per-document mean negative log-likelihood under the unigram model:

        nll(doc) = avg over words w of  -ln( (c(w)+1) / (T + V + 1) )

    with c(w) the model count (0 for OOV), T the total modeled tokens and
    V the vocabulary size — add-one smoothing, so OOV words score the
    floor probability 1/(T+V+1).  Returns (doc_id, nll_e6) with the mean
    floor-quantized to 1e-6 (the portable cross-engine convention).

    ``model`` defaults to :func:`unigram_model` trained on ``df`` itself
    (the CCNet self-trained setup); pass a model trained on a clean
    corpus to score a dirty one.
    """
    if model is None:
        model = unigram_model(df, text_col, id_col, vocab_size)
    # the model feeds BOTH the totals aggregate and the broadcast join:
    # the vocabulary shuffle runs once
    model = pin(model)
    totals = model.agg(
        F.sum("cnt").cast("double").alias("_t"),
        F.count("*").cast("double").alias("_v"),
    )
    scored = (
        _words(df, text_col, id_col)
        .join(F.broadcast(model), F.col("_w") == F.col("word"), "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            (
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + 1.0)
                    / (F.col("_t") + F.col("_v") + 1.0)
                )
            ).alias("_nll"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.avg("_nll").alias("_m"))
        .select(
            id_col,
            F.floor(F.col("_m") * 1e6).cast("long").alias("nll_e6"),
        )
    )


def ppl_buckets(scored: DataFrame, n_buckets: int = 3,
                id_col: str = "doc_id",
                thresholds: list[float] | None = None) -> DataFrame:
    """head/middle/tail bucketing of perplexity scores.

    Default: exact NTILE(n) over (nll_e6, doc_id) — a total order, so the
    assignment is deterministic and matches the SQL oracle's NTILE
    bit-for-bit.  At corpus scale pass explicit ``thresholds`` (e.g. from
    ``df.approxQuantile``): the bucket becomes a CASE expression — no
    global window, fully pushed down."""
    if thresholds is not None:
        b = F.lit(1)
        for i, t in enumerate(sorted(thresholds)):
            b = F.when(F.col("nll_e6") > t, F.lit(i + 2)).otherwise(b)
        return scored.select("*", b.alias("ppl_bucket"))
    w = Window.orderBy(F.col("nll_e6").asc(), F.col(id_col).asc())
    return scored.select(
        "*", F.ntile(n_buckets).over(w).alias("ppl_bucket")
    )


def bigram_model(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(a, b, cnt) adjacent-word bigram frequencies over the corpus —
    one map-side-combined shuffle keyed on the pair (codegen'd HOF-free
    stream, see _ngram_stream)."""
    return (
        _ngram_stream(df, 2, text_col, id_col)
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
    )


def bigram_perplexity(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      lam: float = 0.7) -> DataFrame:
    """Per-document mean negative log-likelihood under an interpolated
    bigram model self-trained on the corpus (the step up from
    :func:`perplexity`'s unigram — the CCNet shape with one more order):

        p(b | a) = lam * (c(a,b)+1)/(c(a)+V+1)
                 + (1-lam) * (c(b)+1)/(T+V+1)

    add-one smoothing in both terms; ``1-lam`` is computed in Python
    and emitted as the exact IEEE literal on both engines (repr
    convention — (1-0.7) != 0.3).  Returns (doc_id, nll_e6),
    floor-quantized; documents with fewer than 2 words have no bigrams
    and yield no row.

    Scale shape: unigram and bigram counts both map-side combine; the
    unigram table is vocabulary-sized (broadcast); the bigram table
    grows like observed pairs — broadcast at validation scale, and at
    corpus scale the scoring join co-partitions stream and model on
    (a, b) (an equi-join Spark shuffles on the pair key; AQE picks the
    strategy).  Both models are pinned — each feeds totals and scoring
    joins (the multi-consumer rule)."""
    stream = _ngram_stream(df, 2, text_col, id_col)

    uni = pin(unigram_model(df, text_col, id_col))
    bi = pin(bigram_model(df, text_col, id_col))
    tot = uni.agg(
        F.sum("cnt").cast("double").alias("_t"),
        F.count("*").cast("double").alias("_v"),
    )
    oml = 1.0 - lam
    scored = (
        stream
        .join(F.broadcast(uni.withColumnRenamed("word", "a")
                          .withColumnRenamed("cnt", "_ca")), "a")
        .join(F.broadcast(uni.withColumnRenamed("word", "b")
                          .withColumnRenamed("cnt", "_cb")), "b")
        .join(F.broadcast(bi.withColumnRenamed("cnt", "_cab")),
              ["a", "b"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            id_col,
            (-F.log(
                F.lit(lam)
                * (
                    (F.coalesce(F.col("_cab"), F.lit(0)).cast("double")
                     + 1.0)
                    / (F.col("_ca").cast("double") + F.col("_v") + 1.0)
                )
                + F.lit(oml)
                * (
                    (F.col("_cb").cast("double") + 1.0)
                    / (F.col("_t") + F.col("_v") + 1.0)
                )
            )).alias("_nll"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.avg("_nll").alias("_m"))
        .select(
            id_col,
            F.floor(F.col("_m") * 1e6).cast("long").alias("nll_e6"),
        )
    )


def _ngram_stream(df: DataFrame, n: int, text_col: str,
                  id_col: str) -> DataFrame:
    """(id, g1..gn) sliding n-gram stream per document; documents with
    fewer than n words emit nothing.

    HOF-free construction: explode a position sequence and pick words
    with element_at.  The previous transform(...struct...) lambda is a
    higher-order function — interpreted (CodegenFallback), and its
    presence splits the stage out of whole-stage codegen, so every
    downstream operator pipelined into the same stage (the model
    broadcast joins, the backoff CASE) fell back to row-at-a-time
    interpreted evaluation: ~10x CPU on the scoring stage.  sequence +
    element_at are codegen'd end to end.  The greatest() clamp keeps the
    sequence ascending if an optimizer rule evaluates it on pre-filter
    short rows (same hazard as dedup._shingle_expr); filtered rows emit
    nothing either way."""
    ws = F.split(F.col(text_col), " ")
    names = ["a", "b", "c", "d", "e"][:n]
    base = df.select(F.col(id_col), ws.alias("_ws")).filter(
        F.size("_ws") >= n
    )
    pos = F.explode(
        F.sequence(
            F.lit(1), F.greatest(F.size("_ws") - (n - 1), F.lit(1))
        )
    )
    return base.select(F.col(id_col), "_ws", pos.alias("_p")).select(
        id_col,
        *[
            F.element_at("_ws", F.col("_p") + k).alias(names[k])
            for k in range(n)
        ],
    )


def trigram_model(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(a, b, c, cnt) adjacent-word trigram frequencies — one
    map-side-combined shuffle keyed on the triple."""
    return (
        _ngram_stream(df, 3, text_col, id_col)
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("cnt"))
    )


def stupid_backoff_nll(df: DataFrame, model_df: DataFrame | None = None,
                       text_col: str = "text", id_col: str = "doc_id",
                       alpha: float = 0.4) -> DataFrame:
    """Per-document mean negative log-SCORE under a trigram
    stupid-backoff model (Brants et al. 2007, "Large Language Models
    in Machine Translation" — THE web-scale LM: no discounting, no
    normalization, just counts and a fixed backoff penalty, which is
    what makes it trainable on 10^12 tokens):

        S(c | a b) = n(a,b,c) / n(a,b)              if n(a,b,c) > 0
                   = alpha * n(b,c) / n(b)          elif n(b,c) > 0
                   = alpha^2 * (n(c)+1) / (T+V+1)   otherwise

    The unigram floor carries this repo's add-one convention (Brants
    et al. leave OOV undefined) so scoring a corpus DISJOINT from the
    model never divides by zero: an unseen word costs the floor
    probability 1/(T+V+1).  ``model_df`` is the training corpus
    (defaults to ``df`` — self-trained; pass a held-out/clean split to
    make the backoff chain load-bearing, since self-training means
    every scored trigram exists).  Scores are not probabilities (S
    doesn't normalize) — nll is a relative quality signal, exactly
    how Brants et al. use it.  Returns (doc_id, nll_e6)
    floor-quantized; documents with fewer than 3 words yield no row.
    ``alpha``/``alpha^2`` are emitted as exact IEEE literals on both
    engines (repr convention).

    Scale shape: trigram/bigram/unigram counts each map-side combine
    (one shuffle each, over n-gram slots not documents); every model
    feeds one scoring join — broadcast at validation scale, and at
    corpus scale the (a,b,c)/(a,b) equi-joins co-partition stream and
    model on the gram key (AQE picks the strategy).  The backoff CASE
    is one codegen'd projection; the per-doc mean partial-combines.
    Branch guards are exact: n(a,b,c) > 0 implies n(a,b) > 0 and
    n(b,c) > 0 implies n(b) > 0, so the kept divisions never see 0.
    """
    if model_df is None:
        model_df = df
    stream = _ngram_stream(df, 3, text_col, id_col)
    tri = pin(trigram_model(model_df, text_col, id_col))
    bi = pin(bigram_model(model_df, text_col, id_col))
    uni = pin(unigram_model(model_df, text_col, id_col))
    tot = uni.agg(
        F.sum("cnt").cast("double").alias("_t"),
        F.count("*").cast("double").alias("_v"),
    )
    a2 = alpha * alpha
    scored = (
        stream
        .join(F.broadcast(tri.withColumnRenamed("cnt", "_n3")),
              ["a", "b", "c"], "left")
        .join(F.broadcast(bi.withColumnRenamed("cnt", "_nab")),
              ["a", "b"], "left")
        .join(F.broadcast(
                  bi.select(F.col("a").alias("b"), F.col("b").alias("c"),
                            F.col("cnt").alias("_nbc"))),
              ["b", "c"], "left")
        .join(F.broadcast(uni.select(F.col("word").alias("b"),
                                     F.col("cnt").alias("_ub"))),
              "b", "left")
        .join(F.broadcast(uni.select(F.col("word").alias("c"),
                                     F.col("cnt").alias("_uc"))),
              "c", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            id_col,
            (-F.log(
                F.when(
                    F.col("_n3").isNotNull(),
                    F.col("_n3").cast("double") / F.col("_nab"),
                ).when(
                    F.col("_nbc").isNotNull(),
                    F.lit(alpha)
                    * (F.col("_nbc").cast("double") / F.col("_ub")),
                ).otherwise(
                    F.lit(a2)
                    * ((F.coalesce(F.col("_uc"), F.lit(0))
                        .cast("double") + 1.0)
                       / (F.col("_t") + F.col("_v") + 1.0))
                )
            )).alias("_nll"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.avg("_nll").alias("_m"))
        .select(
            id_col,
            F.floor(F.col("_m") * 1e6).cast("long").alias("nll_e6"),
        )
    )


def ppl_buckets_by_lang(scored: DataFrame, n_buckets: int = 3,
                        id_col: str = "doc_id",
                        lang_col: str = "lang",
                        thresholds: dict | None = None) -> DataFrame:
    """PER-LANGUAGE head/middle/tail bucketing — CCNet's actual
    semantics (Wenzek et al. 2020 §4.3 computes the perplexity
    percentiles separately for each language; a global cut would let
    well-modeled languages crowd every other language into the tail).

    Validation scale (default): exact NTILE over a (lang) ->
    (nll_e6, id) window — deterministic, bit-matches the SQL twin.
    This window partitions BY LANGUAGE, so a dominant language (en at
    ~half the web) lands in one sort task — fine for tests, wrong at
    corpus scale, and AQE cannot split a window partition.

    Corpus scale: pass ``thresholds`` = {lang: [cut1, cut2, ...]}
    (n_buckets-1 ascending nll_e6 cuts per language, from
    approxQuantile over a sample — the CCNet approach).  The bucket
    then becomes a broadcast join on lang + an array-rank expression:
    no window anywhere, fully parallel, threshold table is ~languages
    rows.  A language absent from the table defaults to bucket 1
    (document the choice: unknown-language docs sort with the head so
    they are never silently dropped by a tail filter).
    """
    if thresholds is not None:
        rows = [(l, [int(t) for t in sorted(ts)])
                for l, ts in sorted(thresholds.items())]
        th = scored.sparkSession.createDataFrame(
            rows, "%s string, _cuts array<bigint>" % lang_col
        )
        j = scored.join(F.broadcast(th), lang_col, "left")
        nll = F.col("nll_e6")
        b = F.when(F.col("_cuts").isNull(), F.lit(1)).otherwise(
            (F.lit(1) + F.size(
                F.filter(F.col("_cuts"), lambda c: nll > c)
            )).cast("int")
        )
        return j.select(*scored.columns, b.alias("ppl_bucket"))
    w = Window.partitionBy(lang_col).orderBy(
        F.col("nll_e6").asc(), F.col(id_col).asc()
    )
    return scored.select(
        "*", F.ntile(n_buckets).over(w).alias("ppl_bucket")
    )
