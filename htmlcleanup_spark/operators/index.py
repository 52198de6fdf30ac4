"""Corpus indexing operators: a capped inverted index and word2phrase
collocation scores.

Both are classic distributed-corpus builds (the inverted index is the
canonical MapReduce example; the phrase scorer is Mikolov et al. 2013
§4, the word2phrase pass every word-embedding / phrase-mining pipeline
runs before training).  Spark shapes: one term-keyed map-combined
shuffle each, posting lists capped so no single term's reduce group is
unbounded, and every score that crosses engines is exact integer /
decimal arithmetic (no float log) so the DuckDB oracle matches
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pin import pin

__all__ = ["inverted_index", "phrase_scores", "bm25_topk"]


def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   max_postings: int = 1000) -> DataFrame:
    """Distributed inverted index: (term, df, postings) where ``df`` is
    the exact document frequency and ``postings`` is the first
    ``max_postings`` doc ids in ascending order, comma-joined.

    Returns (term, doc_freq, postings).

    Scale shape (10^12 docs):
    - the (doc, term) distinct runs FIRST as its own map-combined
      groupBy keyed by the pair — a stop-word's occurrences collapse
      per-partition before any term-keyed exchange, so the term shuffle
      carries at most |docs-per-partition| rows per term, not raw term
      frequency;
    - the posting list is capped: collect the smallest ``max_postings``
      ids via sort_array + slice, so a term appearing in every document
      (the Zipf head) produces a bounded row, never an OOM-sized
      reduce group.  ``doc_freq`` stays exact (count is pre-slice);
      real engines page long posting lists the same way (Lucene blocks);
    - ids are joined to a string so the schema is engine-portable and
      the parquet row stays columnar-friendly.
    """
    doc_terms = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "_id")
        .agg(F.lit(1).alias("_one"))
    )
    return (
        doc_terms.groupBy("term")
        .agg(
            F.count("*").alias("doc_freq"),
            F.array_join(
                F.transform(
                    F.slice(
                        F.sort_array(F.collect_list("_id")), 1,
                        max_postings,
                    ),
                    lambda i: i.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


def phrase_scores(df: DataFrame, text_col: str = "text",
                  delta: int = 5, min_pair_count: int = 2) -> DataFrame:
    """word2phrase collocation scoring (Mikolov et al. 2013 §4): for
    each adjacent word pair,

        score = (count(ab) - delta) * N / (count(a) * count(b))

    where N is the total token count — pairs scoring above a threshold
    get fused into phrases ("new_york") before embedding training.
    ``delta`` discounts rare-pair noise exactly as the reference C
    implementation does; pairs with ``count(ab) <= delta`` (score <= 0,
    below any phrase threshold) are dropped, which also keeps the
    fixed-point arithmetic non-negative so floor == integer division
    in every engine.

    Returns (word_a, word_b, pair_count, score_e6) with
    score_e6 = floor(score * 1e6) computed in decimal(38) arithmetic —
    (cnt_ab * N * 1e6) overflows int64 at corpus scale and float
    division is partition-order unstable, so the whole expression stays
    exact fixed-point and matches DuckDB's HUGEINT oracle bit-for-bit.

    Scale shape: unigram counts and pair counts are each ONE
    map-combined groupBy (word-keyed / pair-keyed).  The unigram table
    is vocabulary-sized; at web scale it exceeds broadcast range, so
    the attach is two hash joins keyed by word_a then word_b —
    co-partitioned exchanges of the PAIR table (already aggregated,
    vocabulary², in practice Zipf-bounded), never a re-shuffle of the
    token stream.  N attaches as a broadcast 1-row scalar.
    """
    words = df.select(
        F.split(F.col(text_col), " ").alias("_ws")
    )
    tokens = words.select(F.explode("_ws").alias("w")).filter(
        F.col("w") != ""
    )
    unigrams = tokens.groupBy("w").agg(F.count("*").alias("cnt"))
    n_total = tokens.agg(F.count("*").alias("_n"))
    pairs = (
        # size >= 2 guard: sequence(1, 0) in Spark DESCENDS ([1, 0]),
        # which would fabricate out-of-bounds (null) pairs for
        # single-token rows
        words.filter(F.size("_ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_ws) - 1),"
                    " i -> struct(_ws[i - 1] as a, _ws[i] as b))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("word_a"), F.col("p.b").alias("word_b"))
        .filter((F.col("word_a") != "") & (F.col("word_b") != ""))
        .groupBy("word_a", "word_b")
        .agg(F.count("*").alias("pair_count"))
        .filter(
            (F.col("pair_count") >= min_pair_count)
            & (F.col("pair_count") > delta)
        )
    )
    dec = "decimal(38,0)"
    return (
        pairs.join(
            unigrams.select(
                F.col("w").alias("word_a"), F.col("cnt").alias("_ca")
            ),
            "word_a",
        )
        .join(
            unigrams.select(
                F.col("w").alias("word_b"), F.col("cnt").alias("_cb")
            ),
            "word_b",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "word_a",
            "word_b",
            "pair_count",
            F.floor(
                (
                    (F.col("pair_count") - F.lit(delta)).cast(dec)
                    * F.col("_n").cast(dec)
                    * F.lit(1000000).cast(dec)
                )
                / (F.col("_ca").cast(dec) * F.col("_cb").cast(dec))
            )
            .cast("long")
            .alias("score_e6"),
        )
    )


def bm25_topk(df: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 top-k retrieval (Robertson-Sparck Jones; the Lucene
    ``(1 + (N - df + 0.5)/(df + 0.5))`` idf variant) of a few queries
    against the whole corpus.

        w(t, d) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                  * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    ``queries`` is a tiny (qid, term) table.  Returns
    (qid, doc_id, score_e6, rank) — each query's top ``k`` documents by
    summed per-term score, rank 1-based, ties broken by ascending doc id.

    Engine-portability: each PER-TERM weight is floor-quantized to an
    int64 ``* 1e6`` BEFORE the per-document sum, so the sum is integer
    and therefore partition-order independent — float addition order
    across terms can never flip the hash (same trick as the SQ8 ANN
    scorer).  The float part of each term weight is a fixed-shape
    expression both engines evaluate identically.

    Scale shape (10^12 docs, handful of queries):
    - query terms broadcast-join the token stream BEFORE any shuffle, so
      only postings of queried terms ever leave the scan (a ~|terms|/|V|
      volume cut); tf is a map-combined (qid, doc, term) groupBy;
    - df_t is a map-combined term-keyed count over distinct (doc, term)
      for the queried terms only (≤ |terms| result rows, broadcast back);
    - dl rides along from the scan as a computed column (zero joins);
    - N / total-token scalars attach as a broadcast 1-row cross join;
    - top-k is the SALTED two-stage cut: rank within
      (qid, spark_partition_id) first — every partition contributes at
      most k rows per query — then the global per-qid window ranks
      ~partitions * k rows, never the corpus.  A bare
      ``Window.partitionBy(qid)`` over all scored docs would put one
      query's whole posting universe in a single reduce task (the
      mixture_sample anti-pattern); the local cut keeps every exchange
      group bounded.
    """
    from pyspark.sql import Window

    # non-empty token count WITHOUT a higher-order function:
    # size(array_remove(ws, '')) == size(filter(ws, w != '')) (split never
    # yields nulls), and array_remove is codegen'd — an F.filter lambda
    # here knocked the explode stage and the broadcast term joins behind
    # it out of whole-stage codegen (the lm._ngram_stream lesson)
    dl = F.size(F.array_remove(F.split(F.col(text_col), " "), ""))
    toks = df.select(
        F.col(id_col).alias("_doc"),
        dl.alias("_dl"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")

    stats = df.select(dl.alias("_dl")).agg(
        F.count("*").alias("_n"), F.sum("_dl").alias("_tot")
    )

    qterms = queries.select("qid", "term")
    uniq_terms = qterms.select("term").distinct()

    # queried-term postings, pinned: this small (|queried terms| ≪ |V|)
    # stream feeds both the df_t and tf aggregations — one token-stream
    # scan instead of two, and what materializes is only the postings
    # that survive the broadcast term cut (scale-safe by construction)
    hit = pin(toks.join(F.broadcast(uniq_terms), "term"))

    # document frequency of queried terms only
    df_t = (
        hit.groupBy("term", "_doc").agg(F.lit(1).alias("_one"))
        .groupBy("term").agg(F.count("*").alias("_df"))
    )

    tf = (
        hit.join(F.broadcast(qterms), "term")
        .groupBy("qid", "_doc", "term")
        .agg(F.count("*").alias("_tf"), F.first("_dl").alias("_dl"))
    )

    k1c, bc = F.lit(float(k1)), F.lit(float(b))
    avgdl = F.col("_tot").cast("double") / F.col("_n").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n").cast("double") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )
    wgt = (
        idf
        * (F.col("_tf") * (k1c + F.lit(1.0)))
        / (
            F.col("_tf")
            + k1c * (F.lit(1.0) - bc + bc * F.col("_dl") / avgdl)
        )
    )
    per_term = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid", "_doc",
            F.floor(wgt * F.lit(1000000.0)).cast("long").alias("_w_e6"),
        )
    )
    scored = per_term.groupBy("qid", "_doc").agg(
        F.sum("_w_e6").alias("score_e6")
    )

    order = [F.col("score_e6").desc(), F.col("_doc").asc()]
    local = Window.partitionBy("qid", "_p").orderBy(*order)
    final = Window.partitionBy("qid").orderBy(*order)
    return (
        scored.withColumn("_p", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(local))
        .filter(F.col("_lr") <= k)
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("_doc").alias("doc_id"), "score_e6", "rank")
    )
