"""TF-IDF / BM25 term scoring — relational formulation.

Beyond-reference (SURVEY §2.12): term-relevance scoring for text
pipelines. Everything is explode → groupBy → join (Catalyst-native,
partial aggregation everywhere); the idf table is tiny (vocabulary-
sized) and broadcasts into the scoring join.

Definitions (standard smooth variants, replicated exactly in the DuckDB
oracle):
    tf(t, d)  = count of t in d
    df(t)     = number of docs containing t
    idf(t)    = ln((N + 1) / (df + 1)) + 1
    tfidf     = tf · idf
    bm25(t,d) = idf_bm25 · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    idf_bm25  = ln(1 + (N − df + 0.5)/(df + 0.5))

The count-model core here also serves the corpus-statistics scorers in
``quality`` (token heads, Zipf fit, unigram/bigram LM, DSIR, corpus
health) and ``classify`` (Naive Bayes), each keeping its own smoothing:
``_grams`` counts grams per (keys…, gram), ``_with_totals`` broadcasts a
one-row totals frame onto a weight table, and ``_weighted_sum`` joins
weights back and sums count × weight per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import prnd
from ..session import materialize
from .dedup import _posting_pairs, spread_partitions, tokens, words


def _grams(
    df: DataFrame,
    keys: list[str],
    gram: str,
    count: str | None = None,
    text_col: str = "text",
    grams=None,
    clustered: bool = False,
) -> DataFrame:
    """Stage 1 of the count-model scorers: the spread-out rows exploded
    into (keys…, gram) rows and, when ``count`` names a column, counted
    per (keys…, gram). Grams are the text's non-empty lowercased
    tokens, or ``grams(words)`` — an array the caller builds from the
    ``words`` array column (bigram pairs, hashed buckets). ``clustered``
    hash-partitions the gram stream by the first key before the count,
    so the count and a window over that key share one exchange."""
    d = spread_partitions(df)
    if grams is None:
        s = d.select(
            *keys, F.explode(tokens(F.col(text_col))).alias(gram)
        ).filter(F.length(gram) > 0)
    else:
        s = d.select(*keys, words(F.col(text_col)).alias("_toks")).select(
            *keys, F.explode(grams(F.col("_toks"))).alias(gram)
        )
    if clustered:
        s = s.repartition(F.col(keys[0]))
    if count is None:
        return s
    return s.groupBy(*keys, gram).agg(F.count(F.lit(1)).alias(count))


def _with_totals(frame: DataFrame, *totals) -> DataFrame:
    """Stage 2: ``frame`` with a one-row totals frame broadcast onto
    every row — ``frame.agg(*totals)``, or ``totals[0]`` when it is
    already a one-row frame. The scalars ride the plan instead of an
    eager driver action."""
    one = totals[0] if isinstance(totals[0], DataFrame) else frame.agg(*totals)
    return frame.crossJoin(F.broadcast(one))


def _weighted_sum(
    counts: DataFrame,
    weights: DataFrame,
    on,
    keys: list[str],
    count: str,
    weight,
    how: str = "inner",
) -> DataFrame:
    """(keys…, _n = Σ count, _s = Σ count·weight) — stage 3: the weight
    table joined back onto the per-document counts and summed per
    ``keys``."""
    return (
        counts.join(weights, on, how)
        .groupBy(*keys)
        .agg(
            F.sum(count).alias("_n"),
            F.sum(F.col(count) * weight).alias("_s"),
        )
    )


def _n_docs_frame(df: DataFrame) -> DataFrame:
    """One-row (``_n``: double) corpus-size aggregate, for deriving N
    inside the consumer's own plan: a broadcast one-row crossJoin
    replaces the eager ``df.count()`` driver action (an extra job whose
    scan read the corpus once more just for a scalar). The count branch
    is column-pruned to count-star, so the extra scan is
    parquet-metadata cheap."""
    return df.agg(F.count(F.lit(1)).cast("double").alias("_n"))


def _idf_frame(
    tc: DataFrame,
    df: DataFrame,
    id_col: str,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """(term, df, idf) from the (id, term, tf) counts: smooth idf =
    log((N+1)/(df+1)) + 1, N derived in-plan via ``_n_docs_frame``;
    ``max_doc_freq_frac`` drops terms with df > floor(frac·N) first.
    NOT broadcast-hinted: the idf frame is vocabulary-sized — forcing a
    broadcast of an open-ended term dictionary can exceed the broadcast
    cap / driver memory on a large corpus; AQE broadcasts it anyway
    whenever it measures small."""
    dfreq = _with_totals(
        tc.groupBy("term").agg(F.count_distinct(id_col).alias("df")),
        _n_docs_frame(df),
    )
    if max_doc_freq_frac is not None:
        dfreq = dfreq.filter(
            F.col("df") <= F.floor(F.lit(max_doc_freq_frac) * F.col("_n"))
        )
    return dfreq.withColumn(
        "idf", F.log((F.col("_n") + 1) / (F.col("df") + 1)) + 1.0
    ).drop("_n")


def tfidf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """(id, term, tf, tfidf) — optionally only each doc's top_k terms
    (deterministic tie-break on term)."""
    tc = _grams(df, [id_col], "term", "tf", text_col)
    idf = _idf_frame(tc, df, id_col)
    scored = tc.join(idf, "term").select(
        F.col(id_col),
        "term",
        "tf",
        prnd(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    if top_k is None:
        return scored
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .drop("rk")
    )


def bm25(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, term, bm25) — Okapi BM25 per term/doc. avgdl and N both
    ride the plan as one-row broadcast crossJoins (the
    ``_n_docs_frame`` pattern): no eager ``.collect()`` job, so bm25
    composes into a single plan like every other operator here.

    Plan shape (r9, 9→8 exchanges measured; values unchanged vs the r7
    form):
    - the exploded token stream is clustered by id BEFORE the
      (id, term) count — HashPartitioning(id) satisfies the groupBy's
      clustered distribution AND the doc-length window's, so ONE id
      exchange serves both (the r7 form paid (id, term) + id);
    - both per-doc scalars fold into that same window pass: dl is the
      sum window (r7) and the doc count rides a row_number==1 marker,
      so avgdl = sum(tf)/sum(_first) is a plain partial-aggregable
      global — the count_distinct(id) it replaces re-shuffled the
      whole frame by doc_id;
    - doc frequency is count(1), not count_distinct(id): the counted
      frame is distinct on (id, term) by construction, and
      count_distinct planned a (term, id) expand exchange before the
      term aggregation;
    - the enriched frame is pinned ONCE via localCheckpoint (it feeds
      the doc-frequency aggregation, the avgdl aggregation, and the
      scoring join; the checkpoint scan erases partitioning info, so
      each leg re-partitions the pinned rows — cheap — instead of
      re-running tokenize+count). Lazy, ``bm25_search_terms`` at sf0.1
      ran 0.97 s vs 1.01 s pinned (medians of 12 alternating pairs,
      same 12 jobs) but planned 14 exchanges against the 8 that
      ``test_bm25_exchange_budget`` holds, so the pin stays."""
    tc = _grams(df, [id_col], "term", "tf", text_col, clustered=True)
    w = Window.partitionBy(id_col)
    tcdl = materialize(
        tc.withColumn("dl", F.sum("tf").over(w)).withColumn(
            "_first",
            (F.row_number().over(w.orderBy("term")) == 1).cast("long"),
        )
    )
    tct = tcdl.repartition(F.col("term"))
    idf = (
        _with_totals(
            tct.groupBy("term").agg(F.count(F.lit(1)).alias("df")),
            _n_docs_frame(df),
        )
        .withColumn(
            "idf",
            F.log(
                1.0 + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .drop("_n")
    )
    # avgdl = sum(tf)/sum(_first), one row, in-plan
    avgdl = tct.agg((F.sum("tf") / F.sum("_first")).alias("_avgdl"))
    return _with_totals(tct.join(idf, "term"), avgdl).select(
        F.col(id_col),
        "term",
        prnd(
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (1 - b + F.lit(b) * F.col("dl") / F.col("_avgdl"))
            ),
            6,
        ).alias("bm25"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """Sparse document-similarity join: cosine over TF-IDF vectors via
    the inverted index — the IR-classic complement to the embedding ANN
    tier (no model, no dense vectors; exact over the chosen term set).

    sim(a,b) = Σ_t w_at·w_bt / (‖a‖·‖b‖), computed relationally:
    per-doc term weights (partial-aggregated), per-doc norms from one
    groupBy, then the ``dedup._posting_pairs`` self-join ON TERM
    accumulates the dot products — shuffle volume is Σ_t df(t)², so
    ``max_doc_freq_frac`` prunes stop-word-class terms (df > frac·N)
    before the join, the same LOSSY-knob pattern as ngram_jaccard's
    doc-freq cap (high-df terms carry ~zero idf weight anyway); the cap
    is a fraction of the corpus so it prunes the same share as N grows.
    Output (id_a < id_b, cosine ≥ threshold)."""
    tc = _grams(df, [id_col], "term", "tf", text_col)
    idf = _idf_frame(tc, df, id_col, max_doc_freq_frac)
    # no broadcast hint: vocabulary-sized frame (see _idf_frame)
    w = tc.join(idf, "term").select(
        F.col(id_col),
        F.col("term").alias("key"),
        (F.col("tf") * F.col("idf")).alias("w"),
    )
    return (
        _posting_pairs(
            w,
            id_col,
            None,
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
            lambda pinned, kept: pinned.groupBy(id_col).agg(
                F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
            ),
        )
        .withColumn("cosine", F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", prnd("cosine", 6).alias("cosine"))
    )
