"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw web document by how target-like its
hashed-n-gram distribution is, then keep the top of the raw pool.

The published recipe: featurize documents as counts over B hashed
unigram+bigram buckets, fit bag-of-words distributions p (target corpus)
and q (raw corpus) over the buckets, and weight each raw document by

    log w(doc) = sum over buckets b of  c_doc(b) * ( ln p_b - ln q_b )

with add-one smoothing.  Selection takes the highest-weight documents
(the paper adds Gumbel noise for sampling; the deterministic top-k
variant is what Dolma/DataComp-LM style pipelines run, and is what a
SQL oracle can pin).

Engine-portability design (the repo's oracle conventions):
- bucket ids come from the md5 -> first-15-hex -> BIGINT -> mod B family
  (identical in Spark and DuckDB);
- the per-bucket log ratio is computed with ONE ln call over a pinned
  expression order and floor-quantized to e6 BIGINT *first*; the per-doc
  weight is then an INTEGER dot product c_doc(b) * lr_e6(b) — exact,
  associative, immune to float accumulation order across partitions
  (the avg-of-ln in operators/lm.perplexity relies on per-doc row
  locality; a grouped dot product has no such order guarantee, so it
  must not sum raw doubles).

Scale shape (10^12 raw docs, 10^7 target docs):
- two gram-count aggregations (target, raw), both map-side combined onto
  at most B distinct keys — with B = 10^4..10^6 the reduce side is tiny
  regardless of corpus size, and md5 bucketing makes the key uniform;
- the (bucket, lr_e6) table has <= B rows — broadcast;
- per-doc scoring is one explode + broadcast join + one doc-keyed sum
  with partial combine: a single full shuffle of one row per doc;
- selection by threshold is a pushed-down filter (no global order); the
  exact top-frac variant uses one window over a total order and is for
  validation scale, like operators/sample.token_budget_sample.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.pin import pin

__all__ = ["hashed_gram_counts", "dsir_logratio", "dsir_weights",
           "dsir_select"]


def _gram_stream(df: DataFrame, text_col: str,
                 id_col: str | None = None) -> DataFrame:
    """(id?, _g) unigram + space-joined-bigram rows of the whitespace
    token stream.

    HOF-free: the former flatten(array(ws, transform(...))) built the
    bigrams with an interpreted lambda (CodegenFallback) that also broke
    whole-stage codegen for the bucket-hash projection and partial
    aggregation pipelined behind it.  Instead, union a codegen'd
    unigram explode with a codegen'd position-sequence bigram explode
    (element_at picks, same greatest() clamp convention as lm's
    _ngram_stream); the identical exchange below both branches is
    deduplicated by ReuseExchange.  Row multiset is unchanged, so every
    downstream count is identical."""
    ws = F.split(F.col(text_col), " ")
    cols = [F.col(id_col)] if id_col else []
    uni = df.select(*cols, F.explode(ws).alias("_g"))
    base = df.select(*cols, ws.alias("_ws")).filter(F.size("_ws") >= 2)
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.size("_ws") - 1, F.lit(1)))
    )
    bi = base.select(*cols, "_ws", pos.alias("_p")).select(
        *cols,
        F.concat_ws(
            " ",
            F.element_at("_ws", F.col("_p")),
            F.element_at("_ws", F.col("_p") + 1),
        ).alias("_g"),
    )
    return uni.unionAll(bi)


def _bucket(gram_col, n_buckets: int, salt: str):
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), gram_col)), 1, 15
        ),
        16, 10,
    ).cast("long") % n_buckets


def hashed_gram_counts(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_buckets: int = 1 << 13,
                       salt: str = "dsir") -> DataFrame:
    """(id, bucket, cnt) hashed unigram+bigram counts per document."""
    return (
        _gram_stream(df, text_col, id_col)
        .select(id_col, _bucket(F.col("_g"), n_buckets, salt).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _corpus_buckets(df: DataFrame, text_col: str, n_buckets: int,
                    salt: str) -> DataFrame:
    """(bucket, cnt) over a whole corpus — map-side combines onto <= B
    keys, so the shuffle carries ~partitions * B rows however large the
    corpus."""
    return (
        _gram_stream(df, text_col)
        .select(_bucket(F.col("_g"), n_buckets, salt).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_logratio(raw_df: DataFrame, target_df: DataFrame,
                  text_col: str = "text", n_buckets: int = 1 << 13,
                  salt: str = "dsir",
                  raw_buckets: DataFrame | None = None) -> DataFrame:
    """The broadcastable (bucket, lr_e6) table:

        lr_e6 = floor( ln( ((ct+1)*(Tq+B)) / ((cq+1)*(Tp+B)) ) * 1e6 )

    i.e. ln p_b - ln q_b under add-one smoothing, folded into ONE ln call
    with a pinned multiply/divide order so Spark and the SQL oracle see
    bit-identical doubles.  Buckets the raw corpus never populates are
    irrelevant downstream (raw docs cannot hit them), so the raw count
    table is the base of the join.

    ``raw_buckets``: an already-computed (bucket, cnt) table for the raw
    corpus (dsir_weights derives it from the per-doc counts it needs
    anyway, saving a full gram-hash pass); None computes it here."""
    # each count table (<= B rows) feeds BOTH its total aggregate and the
    # ratio join: one corpus gram scan per corpus
    if raw_buckets is None:
        raw_buckets = _corpus_buckets(raw_df, text_col, n_buckets, salt)
    traw = pin(raw_buckets)
    ttgt = pin(_corpus_buckets(target_df, text_col, n_buckets, salt))
    tot_raw = traw.agg(F.sum("cnt").cast("double").alias("_tq"))
    tot_tgt = ttgt.agg(F.sum("cnt").cast("double").alias("_tp"))
    b = float(n_buckets)
    return (
        traw.withColumnRenamed("cnt", "cq")
        .join(ttgt.withColumnRenamed("cnt", "ct"), "bucket", "left")
        .crossJoin(F.broadcast(tot_raw))
        .crossJoin(F.broadcast(tot_tgt))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)).cast("double")
                         + 1.0)
                        * (F.col("_tq") + b)
                    )
                    / (
                        (F.col("cq").cast("double") + 1.0)
                        * (F.col("_tp") + b)
                    )
                )
                * 1e6
            ).cast("long").alias("lr_e6"),
        )
    )


def dsir_weights(raw_df: DataFrame, target_df: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 1 << 13,
                 salt: str = "dsir") -> DataFrame:
    """(id, logw_e6): the integer dot product of the document's bucket
    counts with the quantized log-ratio table.  Higher = more
    target-like.  One explode + broadcast join + one doc-keyed sum.

    The per-doc count table is pinned and the RAW corpus bucket table is
    derived from it (summing the per-doc counts per bucket is exactly
    the corpus count), so the raw corpus' gram-hash stream — the
    heaviest stage of the op — runs ONCE instead of twice; only the
    (smaller) target corpus pays its own pass."""
    counts = pin(hashed_gram_counts(raw_df, text_col, id_col, n_buckets, salt))
    raw_buckets = counts.groupBy("bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    lr = F.broadcast(dsir_logratio(
        raw_df, target_df, text_col, n_buckets, salt,
        raw_buckets=raw_buckets,
    ))
    return (
        counts
        .join(lr, "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("lr_e6")).alias("logw_e6"))
    )


def dsir_select(weights: DataFrame, top_frac: float | None = None,
                threshold: int | None = None,
                id_col: str = "doc_id") -> DataFrame:
    """Keep the most target-like raw documents.  ``threshold`` (a
    logw_e6 cut, e.g. from approxQuantile on a sample) is the corpus-
    scale path: a pushed-down filter with no global order.  ``top_frac``
    is the exact validation-scale variant: one window over the
    (logw_e6 DESC, id) total order."""
    if threshold is not None:
        return weights.filter(F.col("logw_e6") >= threshold)
    n = weights.count()
    keep = int(n * (top_frac if top_frac is not None else 0.25))
    w = Window.orderBy(F.col("logw_e6").desc(), F.col(id_col).asc())
    return (
        weights.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= keep)
        .drop("_rk")
    )
