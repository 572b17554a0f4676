"""Model-based quality scoring — the fastText-style hashed linear
classifier step of LLM data curation (CCNet/RefinedWeb-style "score
every document with a small model, keep the confident side").

Beyond-reference surface. Spark-first shape: the model is a hashed
bag-of-words linear classifier, so scoring is a PURE PROJECTION — one
``F.aggregate`` fold over the token array per document computes
``sigmoid(mean_t w[h(t) mod D] + b)`` with zero shuffles, zero UDFs,
zero model objects on executors. Two weight sources:

- ``weights=None`` — deterministic pseudo-weights derived per bucket
  from md5 (the engine-portable stand-in used by the differential
  oracle; DuckDB computes the identical expression). This exercises the
  full scoring plan shape without shipping a real model.
- ``weights=dict`` — a trained model's ``{bucket: weight}`` map,
  inlined as a literal array lookup (D ≤ ~64k inlines fine; a real
  256k-bucket fastText model would broadcast-join a weights table
  instead — same plan shape, one broadcast).

At 100 TB both variants are embarrassingly parallel scans next to the
parquet read; the filter (``keep``) pushes into the same stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import prnd
from .dedup import hash32, words
from .tfidf import _grams, _weighted_sum, _with_totals


def _pseudo_weight(bucket: Column, seed: int) -> Column:
    """Deterministic weight in [-1, 1] for a hash bucket: the md5-derived
    integer in [0, 20000] recentred — portable to any engine with md5
    (DuckDB twin: (CAST('0x'||substr(md5('w'||seed||'_'||bucket),1,8)
    AS BIGINT) % 20001 - 10000) / 10000.0)."""
    h = hash32(F.concat(F.lit(f"w{seed}_"), bucket.cast("string")))
    return (h % 20001 - 10000) / F.lit(10000.0)


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    seed: int = 7,
    bias: float = 0.0,
    threshold: float = 0.5,
    weights: dict[int, float] | None = None,
    out_prefix: str = "",
) -> DataFrame:
    """Score each document with a hashed bag-of-words linear model.

    Output adds ``{p}score`` (sigmoid of the mean bucket weight + bias,
    rounded to 6 dp for cross-engine stability) and ``{p}keep``
    (score ≥ threshold). Empty documents score ``sigmoid(bias)``.
    """
    p = out_prefix
    toks = words(F.col(text_col))
    bucket = lambda t: hash32(t) % dim  # noqa: E731
    if weights is None:
        wsum = F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, t: acc + _pseudo_weight(bucket(t), seed),
        )
    else:
        # literal array lookup: w[bucket] — element_at is 1-based
        warr = F.array(
            *[F.lit(float(weights.get(i, 0.0))) for i in range(dim)]
        )
        wsum = F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, t: acc + F.element_at(warr, (bucket(t) + 1).cast("int")),
        )
    mean_w = wsum / F.greatest(F.size(toks), F.lit(1)).cast("double")
    logit = mean_w + F.lit(float(bias))
    score = prnd(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return df.withColumn(f"{p}score", score).withColumn(
        f"{p}keep", F.col(f"{p}score") >= F.lit(float(threshold))
    )


def calibration_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Score-calibration table: bucket a [0,1] classifier score into
    ``buckets`` equal-width bins and report, per bin, the row count,
    mean score, and observed positive rate of ``label_col`` (boolean or
    0/1) — the standard reliability-diagram input for deciding a keep
    threshold (well-calibrated ⇒ mean score ≈ positive rate per bin).

    One partial-aggregated shuffle over at most ``buckets``+2 groups
    (width_bucket edge bins 0 and buckets+1 catch out-of-range scores).
    Output: (bucket, n, mean_score, positive_rate)."""
    lab = F.col(label_col).cast("int").cast("double")
    return (
        df.select(
            F.width_bucket(
                F.col(score_col), F.lit(0.0), F.lit(1.0), F.lit(buckets)
            ).alias("bucket"),
            F.col(score_col).alias("_s"),
            lab.alias("_y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            prnd(F.avg("_s"), 6).alias("mean_score"),
            prnd(F.avg("_y"), 6).alias("positive_rate"),
        )
    )


def naive_bayes_classify(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Multinomial Naive Bayes trained AND scored in ONE relational
    plan (r11) — the trainable classifier that needs no ML library and
    no driver-side optimization loop, because NB "training" is pure
    counting: per-class token counts, class totals, priors, Laplace-α
    smoothing (V = the TRAINING vocabulary — distinct tokens of labeled
    docs only, textbook multinomial NB; unlabeled docs are scored but
    never counted into V). Every step is a groupBy/join, so the whole
    train+score
    composition is differentially checkable against SQL — unlike an
    iterative logistic solver, which is rows-only by nature.

    Scores round to 1e-6 BEFORE the argmax (drift from float sum order
    and 1-ulp log differences is ~1e-15, absorbed), ties break to the
    lexicographically-smallest class — fully engine-stable. Docs with
    zero tokens score prior-only. Output: (id, label, predicted,
    score — the winning class's rounded log-posterior, correct).

    Scale shape: one explode + vocabulary-keyed groupBys; the
    class-level model frames are tiny and broadcast; the per-(doc,
    class) score is one aggregation over the doc's tokens × |classes|
    — |classes| is small by the problem's nature, so the fan-out is a
    constant factor, never quadratic.

    Eager: calling this runs Spark jobs while the plan is built
    (``materialize`` of the label, per-doc token-count and class-count
    frames), and the pinned blocks live until GC or unpersist unless
    ``set_checkpoint_dir`` was called."""
    from ..session import materialize

    # the per-doc token counts and the (id, label) projection feed MANY
    # consumers (class counts, priors, the scoring, the zero-token arm,
    # the final join) — pinned once, or every consumer re-scans the corpus
    labels = materialize(
        df.select(F.col(id_col), F.col(label_col).alias("_cls"))
    )
    doc_toks = materialize(_grams(df, [id_col], "tok", "cnt", text_col))
    # NULL-labeled docs are EXCLUDED from training (they would become a
    # phantom class) but still scored and joined back (correct = NULL)
    train = labels.filter(F.col("_cls").isNotNull())
    # the (class, token) count table feeds three consumers (the weight
    # table, class_tot and the vocabulary count) and ReuseExchange does
    # not deduplicate them — pinned once; it is vocabulary × |classes|
    # rows, model-sized, not corpus-sized
    class_tok = materialize(
        doc_toks.join(train, id_col)
        .groupBy("_cls", "tok")
        .agg(F.sum("cnt").alias("n_tc"))
    )
    class_tot = class_tok.groupBy("_cls").agg(
        F.sum("n_tc").alias("n_c")
    )
    # smoothing vocabulary V = the TRAINING vocabulary (distinct tokens
    # of labeled docs), the textbook definition: counting unlabeled
    # docs' tokens too would shift every smoothed probability whenever
    # scored-only docs carry unseen tokens
    vocab = class_tok.select("tok").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    n_docs = train.agg(F.count(F.lit(1)).cast("double").alias("n"))
    priors = _with_totals(
        train.groupBy("_cls").agg(
            F.count(F.lit(1)).cast("double").alias("n_cls")
        ),
        n_docs,
    ).select("_cls", F.log(F.col("n_cls") / F.col("n")).alias("logprior"))
    model = _with_totals(priors.join(class_tot, "_cls"), vocab).select(
        "_cls",
        "logprior",
        (F.col("n_c") + F.lit(alpha) * F.col("v")).alias("_d"),
    )
    # log((n_tc+α)/(n_c+α·V)) per seen (class, token); unseen tokens
    # take the smoothed zero-count arm _lw0 through the left join.
    # Both weight frames broadcast (class- or vocabulary-bounded), so the
    # only corpus-sized exchange is the (doc, class) score aggregation.
    # (A 100-TB corpus with a >broadcast-threshold vocab drops the hint
    # and takes the sort-merge join — same semantics.)
    lw = class_tok.join(F.broadcast(model), "_cls").select(
        "_cls",
        "tok",
        F.log((F.col("n_tc") + F.lit(alpha)) / F.col("_d")).alias("_lw"),
    )
    lw0 = model.select(
        "_cls", "logprior", F.log(F.lit(alpha) / F.col("_d")).alias("_lw0")
    )
    scored = _weighted_sum(
        doc_toks.crossJoin(F.broadcast(lw0)),
        F.broadcast(lw),
        ["_cls", "tok"],
        [id_col, "_cls", "logprior"],
        "cnt",
        F.coalesce(F.col("_lw"), F.col("_lw0")),
        "left",
    ).select(id_col, "_cls", (F.col("logprior") + F.col("_s")).alias("_raw"))
    # zero-token docs never reach `scored`: give them prior-only rows
    base = labels.select(id_col).join(
        doc_toks.select(id_col).distinct(), id_col, "left_anti"
    ).crossJoin(F.broadcast(priors)).select(
        id_col, "_cls", F.col("logprior").alias("_raw")
    )
    all_scored = scored.unionByName(base).withColumn(
        "score", F.round(F.col("_raw"), 6)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("_cls").asc()
    )
    best = (
        all_scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, F.col("_cls").alias("predicted"), "score")
    )
    return (
        labels.select(id_col, F.col("_cls").alias(label_col))
        .join(best, id_col)
        .withColumn("correct", F.col(label_col) == F.col("predicted"))
    )
