"""Corpus-quality operators for LLM training-data pipelines.

Beyond-reference surface (the reference is a general dataframe engine;
these are the corpus-curation operations a 100 TB text pipeline runs
between ingestion and tokenization):

- ``repetition_stats`` — Gopher/MassiveText-style repetition signals
  (duplicate-word fraction, duplicate n-gram fraction, top n-gram
  coverage) used to drop auto-generated / boilerplate pages.
- ``line_dedup_global`` — C4-style cross-document line deduplication:
  every line keeps exactly its first occurrence corpus-wide.
- ``contamination_check`` — benchmark-contamination screen: fraction of
  a document's shingles that appear anywhere in an eval/benchmark set.
- ``mixture_resample`` — deterministic hash-based downsampling to a
  target domain/language mixture (the "data mixture" step before
  training), no RNG, reproducible across engines and runs.
- ``token_topk`` — per-category vocabulary heads (top-k tokens), the
  standard corpus-inspection / stopword-discovery sweep.
- ``budget_select`` — greedy token-budget curation: highest-scoring
  documents first until a per-group token budget is filled.
- ``length_outlier_filter`` — per-group percentile length trim (drop
  the truncated/boilerplate tails outside [p_lo, p_hi]).
- ``dup_cluster_sizes`` — duplicate-cluster size histogram, the
  summary view over exact-dedup groups used to pick dedup thresholds.

The corpus-statistics scorers (``token_topk``, ``zipf_fit``, the
unigram/bigram LM scores, DSIR, ``corpus_health``'s language entropy)
share ``tfidf``'s count-model helpers: one gram count, one broadcast
totals row, one weighted per-document sum.

Scale design: everything is relational (explode → shuffle-on-key →
agg/window → join). No Python, no collects, no cartesian stages. The
only skew-sensitive spot is the per-line window in ``line_dedup_global``
(a corpus-dominant boilerplate line forms one large group); its window
is keyed by the line hash so AQE skew handling applies, and empty lines
are dropped before the window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import prnd
from ..functions.text import fingerprint
from ..session import materialize
from .dedup import hash32, spread_partitions, tokens, word_shingles, words
from .tfidf import _grams, _weighted_sum, _with_totals


def ngrams_from_tokens(toks, n: int):
    """All word n-grams (NON-distinct, order preserved) from a
    PRE-TOKENIZED array column. Docs shorter than n words yield a single
    whole-doc gram — mirrors word_shingles' short-doc rule but keeps
    duplicates, which is the whole point for repetition measurement.
    Pass an attribute reference, not a tokens(text) tree: the lambda
    re-evaluates its input per gram (see dedup.shingles_from_tokens)."""
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
    top_n: int = 2,
) -> DataFrame:
    """Per-document repetition signals (Gopher §A1.1-flavored):

    - ``n_words`` — token count.
    - ``dup_word_frac`` — fraction of token instances that are repeats
      of an earlier token (1 - distinct/total).
    - ``dup_ngram_frac`` — fraction of ``ngram_n``-gram instances whose
      gram occurs more than once in the document.
    - ``top_ngram_cov`` — max over ``top_n``-grams of
      count(gram)·len(gram) / len(normalized text): character coverage
      of the single most-covering repeated gram (deterministic — a max
      over products, no argmax tie-breaking).

    Every statistic is a function of ONE document, so the whole operator
    is a single narrow projection — ZERO shuffles, no explode, no joins;
    at 100 TB it runs embarrassingly parallel inside the parquet scan
    stage. Per-gram counts come from sorting the gram array once per row
    (O(g log g), JVM-side):

    - an instance belongs to a duplicated gram iff it equals a sorted
      neighbor, so ``dup`` = count of positions with a matching neighbor;
    - the most-covering gram is a max over run-length·len(gram) carried
      through one ``aggregate`` fold with a struct accumulator.

    High values ⇒ boilerplate/generated text."""

    def _sorted_neighbor_dup_count(sorted_arr):
        n = F.size(sorted_arr)
        return F.size(
            F.filter(
                F.sequence(F.lit(1), n),
                lambda i: (
                    (i > 1)
                    & (
                        F.element_at(sorted_arr, i)
                        == F.element_at(sorted_arr, i - 1)
                    )
                )
                | (
                    (i < n)
                    & (
                        F.element_at(sorted_arr, i)
                        == F.element_at(sorted_arr, i + 1)
                    )
                ),
            )
        )

    def _max_run_coverage(sorted_arr):
        # fold: (prev gram, current run length, best run·len so far)
        return F.aggregate(
            sorted_arr,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    (
                        F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                            F.lit(1)
                        )
                    )
                    * F.length(x),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )

    d = spread_partitions(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        "_toks",
        F.array_sort(ngrams_from_tokens(F.col("_toks"), ngram_n)).alias("_ngs"),
        F.array_sort(ngrams_from_tokens(F.col("_toks"), top_n)).alias("_tgs"),
    )
    return d.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_words"),
        prnd(
            (F.size("_toks") - F.size(F.array_distinct("_toks")))
            / F.size("_toks"),
            6,
        ).alias("dup_word_frac"),
        prnd(
            _sorted_neighbor_dup_count(F.col("_ngs")) / F.size("_ngs"), 6
        ).alias("dup_ngram_frac"),
        # normalized-text denominator: tokens re-joined by single spaces,
        # identical in both engines
        prnd(
            _max_run_coverage(F.col("_tgs"))
            / F.length(F.concat_ws(" ", F.col("_toks"))),
            6,
        ).alias("top_ngram_cov"),
    )


def line_dedup_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """C4-style global line dedup: split every document on ``delimiter``,
    keep exactly the FIRST corpus-wide occurrence of each distinct line
    (first = smallest (doc id, position)), and reassemble documents from
    their surviving lines in original order. Documents whose lines all
    lose become empty strings (kept, so the corpus row set is stable).

    Plan: posexplode → per-line-hash window (rank by (id, pos)) → winner
    filter → per-doc ordered re-aggregation → left join back. Two
    shuffles (line hash, doc id) + one broadcast-able join; the window
    group for a given line is its occurrence list, so corpus-dominant
    boilerplate lines form the only big groups (AQE skew splitting
    applies). Empty/whitespace-only lines are dropped outright, as in
    C4's cleanup."""
    lines = (
        spread_partitions(df)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), delimiter)).alias(
                "pos", "line"
            ),
        )
        .filter(F.length(F.trim(F.col("line"))) > 0)
    )
    w = Window.partitionBy(hash32(F.col("line")), F.col("line")).orderBy(
        F.col(id_col), F.col("pos")
    )
    keep = lines.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    rebuilt = keep.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            delimiter,
        ).alias("clean_text")
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .fillna({"clean_text": ""})
    )


#: boilerplate marker phrases (checked lowercase, substring): the
#: C4/trafilatura-style navigation/legal/social cruft list. Explicit
#: and SQL-replicable — both engines do plain `contains`.
BOILERPLATE_MARKERS = (
    "copyright",
    "all rights reserved",
    "terms of use",
    "privacy policy",
    "cookie",
    "javascript",
    "click here",
    "share on",
    "subscribe",
)


def boilerplate_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    markers: tuple = BOILERPLATE_MARKERS,
) -> DataFrame:
    """Per-LINE boilerplate removal (r11) — the content-extraction
    pass between HTML→text and document-level quality scoring
    (trafilatura/C4 heuristics, all Catalyst): a line drops when it
    (a) has fewer than ``min_words`` words (nav items, buttons),
    (b) lacks terminal punctuation ([.!?]) with fewer than 10 words
    (headings, list fragments — C4's 'keep lines that end in
    punctuation' rule with a long-line escape), (c) contains a marker
    phrase (legal/social/js cruft, case-insensitive substring), or
    (d) is >60% uppercase over ≥10 ASCII letters (menus, banners) — strictly greater, exact-60% lines are kept.
    Returns (id, n_lines, n_kept, clean_text) with survivors
    reassembled in original order — documents losing every line keep
    an empty clean_text, so the corpus row set is stable. Plan:
    posexplode → per-line flags (codegen) → per-doc ordered
    re-aggregation → join back; one doc-keyed shuffle."""
    lines = (
        spread_partitions(df)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "pos", "line"
            ),
        )
        .withColumn("_t", F.trim(F.col("line")))
        .filter(F.length("_t") > 0)
    )
    n_words = F.size(F.split(F.col("_t"), r"\s+"))
    lower = F.lower(F.col("_t"))
    marker_hit = F.lit(False)  # markers=() disables the marker rule
    for m in markers:
        marker_hit = marker_hit | F.contains(lower, F.lit(m))
    letters = F.length(F.regexp_replace(F.col("_t"), "[^A-Za-z]", ""))
    uppers = F.length(F.regexp_replace(F.col("_t"), "[^A-Z]", ""))
    boiler = (
        (n_words < min_words)
        | (~F.col("_t").rlike(r"[.!?]$") & (n_words < 10))
        | marker_hit
        | ((letters >= 10) & (uppers / letters > 0.6))
    )
    flagged = lines.withColumn("_boiler", boiler)
    rebuilt = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum((~F.col("_boiler")).cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_boiler"),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .fillna({"clean_text": "", "n_lines": 0, "n_kept": 0})
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark-contamination screen: for every corpus document, the
    fraction of its distinct word ``shingle_n``-grams that appear in ANY
    benchmark document. The standard pre-training hygiene check (e.g.
    GPT-3 §C / PaLM-style 'n-gram overlap with eval sets').

    Plan: benchmark shingles → distinct hash set (tiny vs the corpus —
    broadcast-able); corpus shingles LEFT-joined against it (distinct
    right side, so no fan-out) with a hit marker, then ONE groupBy
    counts total and hit shingles together — the corpus is exploded and
    scanned exactly once. Per-doc output: (n_shingles, n_contaminated,
    contamination). Exact overlap — no sampling, no collecting."""
    def shingled(d: DataFrame) -> DataFrame:
        from .dedup import shingles_from_tokens

        return d.select(
            F.col(id_col), tokens(F.col(text_col)).alias("_toks")
        ).select(
            F.col(id_col),
            F.explode(shingles_from_tokens(F.col("_toks"), shingle_n)).alias("s"),
        ).select(F.col(id_col), hash32(F.col("s")).alias("sh"))

    bench = (
        shingled(benchmark)
        .select("sh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corp = shingled(spread_partitions(corpus))
    return (
        corp.join(bench, "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count("_hit").cast("long").alias("n_contaminated"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_contaminated",
            prnd(F.col("n_contaminated") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
        )
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 2048,
    num_shards: int = 32,
    token_col: str | None = None,
) -> DataFrame:
    """Sequence packing — assign documents to fixed token-budget bins
    (the pre-tokenization step that concatenates short documents into
    full context windows). Greedy sequential fill in deterministic
    (shard, id) order: each document lands in the bin its running token
    total falls into; a document that crosses a bin boundary opens the
    next bin (bins may overrun by at most one document — the standard
    greedy-packing rule; oversized docs get bins of their own).

    Scale shape: packing order is per-SHARD (md5-bucketed by id,
    ``num_shards`` ≈ writer parallelism), so the running total is a
    window cumsum partitioned by shard — never a global single-partition
    sort, which is the classic scale killer here. Real pipelines pack
    per output shard anyway; global bin ids are (shard, bin_in_shard).
    Token counts default to whitespace tokens; pass ``token_col`` for
    precomputed real tokenizer counts."""
    n_tok = (
        F.col(token_col)
        if token_col
        else F.size(words(F.col(text_col)))
    ).cast("long")
    d = spread_partitions(df).select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        (hash32(F.col(id_col).cast("string")) % num_shards).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("_cum", F.sum("n_tokens").over(w))
    # the bin a doc STARTS in: floor((cum - n_tokens) / capacity) —
    # greedy fill-then-spill; an exactly-full bin hands the next doc to
    # the following bin
    return cum.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(capacity))
        .cast("long")
        .alias("bin"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window document chunking — split each document into
    overlapping fixed-size token windows (window ``chunk_tokens``, step
    ``stride``; overlap = chunk_tokens − stride), the standard
    long-document preparation step before tokenization/embedding.

    Chunk k starts at token k·stride; a new chunk opens only while the
    previous chunk did not already reach the end of the document, so
    short documents yield exactly one chunk and no chunk is a suffix of
    its predecessor: n_chunks = 1 + max(0, ⌈(n − chunk_tokens)/stride⌉).

    Scale shape: a pure narrow projection (split → sequence →
    posexplode → slice) — zero shuffles, no UDF; output size is
    n_tokens/stride rows per doc, partition-local. Emits (id, chunk_idx,
    chunk_start, n_chunk_tokens, chunk_text)."""
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got stride={stride}, "
            f"chunk_tokens={chunk_tokens}"
        )
    toks = words(F.col(text_col))
    d = df.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    )
    # integer ceil((n - C) / S) without float division: (n - C + S - 1) div S
    extra = F.when(
        F.col("_n") > chunk_tokens,
        (F.col("_n") - chunk_tokens + stride - 1).cast("long") / stride,
    ).otherwise(F.lit(0))
    n_chunks = (F.lit(1) + F.floor(extra)).cast("int")
    return d.select(
        F.col(id_col),
        "_toks",
        "_n",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
        F.least(
            F.lit(chunk_tokens),
            F.col("_n") - F.col("chunk_idx") * stride,
        )
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(
                F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
            ),
            " ",
        ).alias("chunk_text"),
    )


def mixture_resample(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic downsampling to a target category mixture — the
    'data mixture' step that balances languages/domains before training.

    Given target ``weights`` (need not sum to 1; normalized internally),
    the largest total T is found such that every category k can supply
    w_k·T rows, then each category keeps rate r_k = w_k·T/n_k of its
    rows. Row selection is a pure hash test — md5(seed‖id) bucket below
    floor(r_k·1e6 + ½) of 1e6 — so the sample is reproducible across
    runs, engines, and cluster layouts; no RNG, no sort.

    Plan: ONE distributed pass computes per-category counts (partial-agg
    shuffle on the category key); the count frame — bounded by the
    user-supplied ``weights`` dict, i.e. #categories rows — is collected
    and the keep thresholds are inlined as a literal map lookup, so the
    survivor filter is a second scan with zero joins and zero extra
    stages. The previous fully-relational form (window-min over the
    count frame + broadcast join) produced a 4-deep chain of tiny AQE
    stages whose fixed per-stage latency dominated the operator; the
    bounded driver-side rate computation is both faster and the plan
    you would want at 100 TB (the corpus is only ever scanned, never
    joined). Threshold arithmetic is plain IEEE doubles in the same
    operation order as the DuckDB oracle, so results stay bit-identical.
    Keys absent from ``weights`` are dropped (weight 0)."""
    import math

    total_w = float(sum(weights.values()))
    norm = {k: float(v) / total_w for k, v in weights.items() if v > 0}
    # membership filter BEFORE the aggregate: the collected frame is then
    # truly bounded by len(weights), not by corpus key cardinality — a
    # high-cardinality key (domain, url-host) must not reach the driver
    if not norm:
        return df.filter(F.lit(False))
    counts = {
        r[key_col]: r["_n"]
        for r in df.filter(F.col(key_col).isin(list(norm)))
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .collect()
    }
    if not counts:
        return df.filter(F.lit(False))
    # feasible total: T = min_k n_k / w_k (category k contributes w_k·T)
    t = min(n / norm[k] for k, n in counts.items())
    thr = {
        k: int(math.floor((norm[k] * t / n) * 1e6 + 0.5))
        for k, n in counts.items()
    }
    thr_map = F.create_map(
        *[F.lit(x) for k, v in sorted(thr.items()) for x in (k, v)]
    )
    bucket = (
        hash32(F.concat(F.lit(str(seed)), F.col(id_col).cast("string")))
        % 1_000_000
    )
    # absent keys -> NULL threshold -> comparison is NULL -> dropped
    return df.filter(bucket < thr_map[F.col(key_col)])


def epoch_expand(
    df: DataFrame,
    key_col: str,
    epochs: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    out: str = "epoch",
) -> DataFrame:
    """Data-mixing UP-sampling (r12) — the repeat half the
    down-sampling resamplers can't express: a training mix that says
    'see the rare language 2.3 times per epoch of the corpus' needs
    rows REPEATED, fractionally. Each category-k row emits
    ``floor(e_k)`` copies plus one more iff its md5 bucket falls below
    ``frac(e_k)·1e6`` — the ``mixture_resample`` selection convention,
    so the fractional extra pass is the SAME deterministic row subset
    every run/engine/layout (resumable training depends on that; an
    RNG-based repeat is not reproducible under task retry). ``out``
    carries the 0-based copy index, so downstream shuffling/packing
    can interleave epochs. Keys absent from ``epochs`` keep ONE copy
    (epoch 0) — up-sampling must not silently drop the base corpus.

    Plan: a literal map lookup + ``sequence``/``explode`` next to the
    scan — zero joins, zero aggregates, no driver loops; output size
    is exactly Σ n_k·e_k (rounded per the hash test)."""
    bad = {k: e for k, e in epochs.items() if float(e) < 0}
    if bad:
        raise ValueError(
            f"negative epoch counts are meaningless: {bad} — use 0 to "
            "drop a category, mixture_resample to downsample"
        )
    whole = {k: int(float(e)) for k, e in epochs.items()}
    frac_thr = {
        k: int((float(e) - int(float(e))) * 1e6 + 0.5)
        for k, e in epochs.items()
    }
    whole_map = F.create_map(
        *[F.lit(x) for k, v in sorted(whole.items()) for x in (k, v)]
    )
    frac_map = F.create_map(
        *[F.lit(x) for k, v in sorted(frac_thr.items()) for x in (k, v)]
    )
    bucket = (
        hash32(F.concat(F.lit(str(seed)), F.col(id_col).cast("string")))
        % 1_000_000
    )
    n_copies = (
        F.coalesce(whole_map[F.col(key_col)], F.lit(1))
        + F.when(
            bucket < F.coalesce(frac_map[F.col(key_col)], F.lit(0)), 1
        ).otherwise(0)
    )
    # posexplode over array_repeat: an n_copies of 0 yields an EMPTY
    # array and the row vanishes (F.sequence(0, n-1) would infer a
    # NEGATIVE step at n=0 and emit phantom copies)
    return df.select(
        "*",
        F.posexplode(F.array_repeat(F.lit(1), n_copies)).alias(
            out, "_one"
        ),
    ).drop("_one")


def epoch_shuffle_plan(
    df: DataFrame,
    key_col: str,
    epochs: dict[str, float],
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic multi-epoch shuffle + sharding plan — the read
    order a trainer consumes: every (row, epoch-copy) from
    ``epoch_expand`` gets a SHARD (which worker/file reads it) and a
    POSITION (where in that shard's stream it appears), both pure
    functions of (id, epoch, seed). Reproducibility is the point:
    resume-from-step, elastic re-sharding and cross-run ablations all
    need byte-identical order with no RNG state to snapshot — and each
    epoch's permutation is DIFFERENT (the hash mixes the epoch index)
    while remaining portable across engines/layouts/retries.

    Plan: epoch_expand's zero-join explode, then one hash-partitioned
    window per (epoch, shard) to materialize positions. Shard sizes are
    ~corpus/n_shards by hash uniformity, so the per-partition sort is
    bounded by shard size, never corpus size — size ``n_shards`` so a
    shard fits an executor (at 100 TB that's n_shards in the tens of
    thousands, each window sort a few GB). No global sort anywhere."""
    if n_shards < 1:
        raise ValueError(
            f"epoch_shuffle_plan: n_shards must be >= 1, got {n_shards}"
        )
    from .dedup import portable_hash

    expanded = epoch_expand(
        df, key_col, epochs, id_col=id_col, seed=seed, out="epoch"
    )
    okey = portable_hash(
        F.concat(
            F.col("epoch").cast("string"),
            F.lit("_"),
            F.col(id_col).cast("string"),
        ),
        seed=seed + 1,
    )
    keyed = expanded.withColumn("_ok", okey).withColumn(
        "shard", (F.col("_ok") % n_shards).cast("int")
    )
    w = Window.partitionBy("epoch", "shard").orderBy(
        F.col("_ok"), F.col(id_col)
    )
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_ok")
    )


def dsir_importance_weights(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    use_bigrams: bool = True,
    smooth: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023 — the hashed-ngram variant): score each
    document by how much more likely its bag of hashed n-gram features
    is under the TARGET distribution (rows where ``target_col`` is
    true — e.g. curated/wiki-like pages) than under the RAW corpus
    distribution. log w(x) = Σ_b c_b(x)·(ln p̂_t(b) − ln p̂_r(b)) with
    add-``smooth`` estimates over ``n_buckets`` hashed buckets of
    unigrams (+ bigrams when ``use_bigrams``).

    Output: (id, n_feats BIGINT, logw_micros BIGINT, dsir_logw DOUBLE).
    ``logw_micros`` is the EXACT integer form (each per-bucket log-ratio
    is half-up rounded to 1e-6 once, then summed as BIGINTs) — summation
    order can't perturb it, so downstream top-k selection compares
    integers, never floats; ``dsir_logw`` = logw_micros/1e6 for humans.

    Documents with NO features (NULL/empty/whitespace-only text) are
    ABSENT from the output — they carry no evidence either way, and
    the DuckDB twin drops them identically; join the output back to
    the corpus with a left join if neutral-weight rows are needed.

    Plan (100 TB shape): one explode builds the gram stream (narrow),
    one shuffle reduces it to per-(doc, bucket) counts, and the bucket
    score table is BOUNDED BY ``n_buckets`` rows — it broadcasts back
    onto the per-doc counts regardless of corpus size (the 1-row totals
    frame broadcasts onto it first). Total: two shuffles (doc-bucket
    agg, final per-doc agg), zero Python, zero collects. Buckets are
    ``portable_hash`` (md5-derived) so the DuckDB twin reproduces them
    bit-for-bit."""
    from .dedup import portable_hash

    def buckets(toks):
        if use_bigrams:
            k = F.size(toks) - 1
            bigrams = F.when(
                k <= 0, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
                )
            )
            toks = F.concat(toks, bigrams)
        return F.transform(toks, lambda g: portable_hash(g) % n_buckets)

    # docb feeds BOTH the bucket score table and the final per-doc sum;
    # without a lineage cut each consumer re-runs the corpus-wide gram
    # explode (the plan's dominant cost). Post-reduction it is at most
    # docs x n_buckets rows. dsir_select_en at sf0.1: 1.76 s pinned vs
    # 2.24 s lazy (medians of 12 alternating pairs, pinned faster in 11).
    docb = materialize(
        _grams(
            df.withColumn("_is_t", F.col(target_col).cast("boolean")),
            [id_col, "_is_t"],
            "_b",
            "_c",
            text_col,
            buckets,
        )
    )
    bucket = docb.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_t"), F.col("_c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_ct"),
        F.sum("_c").cast("long").alias("_cr"),
    )
    sb = float(smooth) * n_buckets
    scores = _with_totals(
        bucket, F.sum("_ct").alias("_t_tot"), F.sum("_cr").alias("_r_tot")
    ).select(
        "_b",
        F.floor(
            (
                F.log((F.col("_ct") + smooth) / (F.col("_t_tot") + sb))
                - F.log((F.col("_cr") + smooth) / (F.col("_r_tot") + sb))
            )
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("_w"),
    )
    return _weighted_sum(
        docb, F.broadcast(scores), "_b", [id_col], "_c", F.col("_w")
    ).select(
        id_col,
        F.col("_n").alias("n_feats"),
        F.col("_s").alias("logw_micros"),
        (F.col("_s") / F.lit(1e6)).alias("dsir_logw"),
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    seed: int = 1,
    out: str = "sel",
) -> DataFrame:
    """Gumbel-top-k importance resampling over DSIR weights — the
    selection half of DSIR: sampling k docs ∝ w(x) without replacement
    is exactly taking the top k of log w(x) + Gumbel noise. The noise
    is DETERMINISTIC (inverse-CDF of an md5-derived uniform on the doc
    id, −ln(−ln(u))), half-up rounded to 1e-6 and added to the exact
    ``logw_micros`` integer — the whole selection key is a BIGINT, so
    ties and ordering are engine-portable (doc id breaks exact ties).

    Plan: the top-k runs as TakeOrderedAndProject (per-partition
    partial top-k merged on the driver — NOT a global sort), and the k
    selected ids broadcast back as a left-join flag. k is a curation
    budget (thousands), never corpus-sized."""
    from .dedup import portable_hash

    u = (
        portable_hash(F.col(id_col).cast("string"), seed=seed) % 1_000_000
        + 0.5
    ) / 1e6
    gm = F.floor(-F.log(-F.log(u)) * 1e6 + 0.5).cast("long")
    # keyed feeds both the top-k and the flag join — cut lineage so the
    # upstream weighted sum over the pinned doc-bucket counts (a bucket
    # aggregate, a join and a per-doc aggregate) runs once, not twice.
    # dsir_select_en at sf0.1: 0.66 s pinned vs 0.72 s lazy (medians of
    # 12 alternating pairs, lazy no slower in 3; 12 jobs either way).
    keyed = materialize(
        weights.withColumn("_key", F.col("logw_micros") + gm)
    )
    top = (
        keyed.select(id_col, "_key")
        .orderBy(F.col("_key").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("_sel_id"))
    )
    return (
        keyed.join(
            F.broadcast(top),
            keyed[id_col] == F.col("_sel_id"),
            "left",
        )
        .withColumn(out, F.col("_sel_id").isNotNull())
        .drop("_sel_id", "_key")
    )


def temperature_resample(
    df: DataFrame,
    key_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: int = 0,
    max_categories: int = 1000,
) -> DataFrame:
    """Temperature-scaled mixture resampling (r11) — the standard
    multilingual rebalance (mBERT/XLM's p_k ∝ n_k^α): target weights
    derive from the corpus's OWN category counts raised to ``alpha``
    (< 1 upweights rare categories, 1 reproduces the natural mix), then
    the ``mixture_resample`` machinery applies them — same feasibility
    rule (largest T every category can supply), same deterministic
    md5-bucket row selection. One bounded count pass; the survivor
    filter is a scan-side map lookup, zero joins. ``max_categories``
    guards the driver-side count collection against high-cardinality
    keys (use a pre-bucketed key for domains)."""
    counts = {
        r[key_col]: r["_n"]
        for r in df.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .limit(max_categories + 1)
        .collect()
    }
    if len(counts) > max_categories:
        raise ValueError(
            f"{key_col} exceeds max_categories={max_categories}: "
            "temperature weights need the full category list — bucket "
            "the key first or raise the cap explicitly"
        )
    if not counts:
        return df.filter(F.lit(False))
    # sorted-key insertion order makes the downstream weight-sum fold
    # deterministic run to run (collect order is not)
    weights = {
        k: float(n) ** float(alpha) for k, n in sorted(counts.items())
    }
    return mixture_resample(df, key_col, weights, id_col, seed)


def token_topk(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k most frequent tokens per category — the vocabulary-head
    sweep used for stopword discovery, tokenizer sanity checks, and
    per-language corpus inspection.

    Plan: explode tokens → (group, token) count with map-side partial
    aggregation (the only corpus-sized shuffle, and it moves pre-reduced
    (group, token, n) triples, not rows) → per-group window rank over
    the DISTINCT-token frame, which is vocabulary-sized — millions of
    rows at 100 TB, not trillions — so the rank window is cheap.
    Deterministic tie-break: (count desc, token asc)."""
    counts = _grams(df, [group_col], "token", "n", text_col)
    w = Window.partitionBy(group_col).orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return counts.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def budget_select(
    df: DataFrame,
    token_budget: int,
    score_col: str,
    group_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str | None = None,
) -> DataFrame:
    """Greedy token-budget curation: take the highest-``score_col``
    documents first (ties broken by id — fully deterministic) until the
    per-group token budget is filled. The standard "best N tokens"
    selection step between quality scoring and training. A document is
    kept iff the budget is not yet exhausted when it starts, so the
    selection may overrun by at most one document (same greedy rule as
    ``pack_sequences``).

    Scale shape: the running total is a window cumsum partitioned by
    ``group_col``. With ``group_col=None`` the window is GLOBAL — a
    single-partition sort that does not scale; at 100 TB always pass a
    group (language/domain/shard), which is what real mixture budgets
    do anyway. Token counts default to whitespace tokens; pass
    ``token_col`` for precomputed tokenizer counts."""
    n_tok = (
        F.col(token_col)
        if token_col
        else F.size(words(F.col(text_col)))
    ).cast("long")
    gcols = [F.col(group_col)] if group_col else []
    d = spread_partitions(df).select(
        F.col(id_col),
        *gcols,
        F.col(score_col).alias("_score"),
        n_tok.alias("n_tokens"),
    )
    part = Window.partitionBy(*gcols) if group_col else Window.partitionBy()
    w = part.orderBy(F.col("_score").desc(), F.col(id_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.withColumn("_cum", F.sum("n_tokens").over(w))
    return cum.filter(
        F.col("_cum") - F.col("n_tokens") < F.lit(int(token_budget))
    ).select(
        F.col(id_col),
        *gcols,
        "n_tokens",
        F.col("_cum").alias("cum_tokens"),
    )


def length_outlier_filter(
    df: DataFrame,
    len_col: str = "n_chars",
    group_col: str = "lang",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group percentile length trim: keep rows whose ``len_col``
    lies inside the group's [``lo``, ``hi``] exact interpolated
    percentiles — drops truncated fragments and boilerplate monsters
    per language/domain rather than with one global threshold.

    Plan: one partial-agg shuffle computes the per-group bounds (groups
    = languages/domains, a tiny frame), broadcast back onto the corpus,
    one filter — the corpus itself never shuffles. Bounds are rounded
    to 6 decimals (prnd) so the keep/drop decision is bit-identical
    across engines (Spark ``percentile`` and DuckDB ``quantile_cont``
    both use linear interpolation)."""
    bounds = df.groupBy(group_col).agg(
        prnd(F.percentile(F.col(len_col), F.lit(float(lo))), 6).alias("_lo"),
        prnd(F.percentile(F.col(len_col), F.lit(float(hi))), 6).alias("_hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .filter(
            (F.col(len_col) >= F.col("_lo")) & (F.col(len_col) <= F.col("_hi"))
        )
        .drop("_lo", "_hi")
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-proxy quality score: per document, the mean negative
    log-probability of its tokens under the corpus's own unigram
    distribution — the classic cheap stand-in for an LM perplexity
    filter (high score ⇒ rare/garbled vocabulary, low score ⇒ stock
    boilerplate). Output: (id, n_tokens, avg_neg_logprob).

    Plan: one explode+count builds the unigram table (vocabulary-sized;
    the single-row grand total broadcasts onto it), which equi-joins
    back onto the token stream — AQE broadcasts the vocabulary when it
    fits and falls back to a shuffle join when a web-scale vocabulary
    doesn't; never forced. Then one per-doc aggregation. Tokenization
    is recomputed per consumer (cheap narrow op) rather than pinning
    corpus-sized state. The per-doc sum runs over the token stream, not
    over per-doc token counts: counting first adds a corpus-sized
    (doc, token) shuffle and measured slower at sf0.1."""
    toks = _grams(df, [id_col], "_tok", text_col=text_col).withColumn(
        "_c", F.lit(1)
    )
    vocab = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_n"))
    probs = _with_totals(vocab, F.sum("_n").alias("_total")).select(
        "_tok", (-F.log(F.col("_n") / F.col("_total"))).alias("_nlp")
    )
    return _weighted_sum(
        toks, probs, "_tok", [id_col], "_c", F.col("_nlp")
    ).select(
        id_col,
        F.col("_n").alias("n_tokens"),
        prnd(F.col("_s") / F.col("_n"), 6).alias("avg_neg_logprob"),
    )


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated-bigram perplexity proxy: per document, the mean
    negative log-probability of its token bigrams under the corpus's
    own interpolated LM, P = λ·P(w₂|w₁) + (1−λ)·P(w₂) — one step up
    from ``unigram_logprob_score`` (context-aware: penalizes unusual
    token ORDER, not just unusual vocabulary). Documents with fewer
    than two tokens have no bigrams and are absent from the output.
    Output: (id, n_bigrams, avg_neg_logprob).

    Plan: bigram pairs come from a narrow array transform (no window,
    no self-join), immediately reduced to per-doc (w1, w2, multiplicity)
    groups; the corpus bigram, context AND unigram count tables all
    derive from that one reduction — a sentinel begin-of-doc pair
    ("" → first token; "" can never be a real token, they're filtered
    to length > 0) makes the w2-marginal of the pair table EXACTLY the
    corpus token counts, so the unigram model needs no second corpus
    scan (r9: scans 2 → 1, exchanges 13 → 9 vs the r6 shape). The
    per-doc score is the multiplicity-weighted mean, the exact same
    arithmetic shape the DuckDB twin uses."""

    def pairs(toks):
        # F.sequence counts DOWN when start > stop — guard empty docs.
        # i=1 emits the sentinel begin-of-doc pair ("" -> first token).
        idx = F.when(
            F.size(toks) >= 1, F.sequence(F.lit(1), F.size(toks))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.when(i == F.lit(1), F.lit(""))
                .otherwise(F.element_at(toks, i - 1))
                .alias("w1"),
                F.element_at(toks, i).alias("w2"),
            ),
        )

    # per-doc pair multiplicities, PINNED: three consumers (bc, ctx via
    # bc, the scored join) each re-derived the scan+explode+groupBy
    # pipeline when left lazy — 5 corpus scans / 19 exchanges in the r5
    # plan audit, the tradeoff that inverts hardest at 100 TB. Pinning
    # exactly this frame (it is what a production pipeline would persist
    # as the doc-bigram index; the corpus-sized raw PAIR stream stays
    # unpinned — materializing it measured ~5× slower) cuts the plan to
    # 2 scans. bigram_perplexity_proxy at sf0.1: 1.29 s pinned vs 2.43 s
    # lazy with 17 jobs vs 15 (medians of 12 alternating pairs, pinned
    # faster in all 12).
    g = materialize(
        _grams(df, [id_col], "_p", "_m", text_col, pairs).select(
            id_col, "_p.w1", "_p.w2", "_m"
        )
    )
    # w2-marginal over ALL pairs (incl. the sentinel) = exact corpus
    # token counts: every token is w2 of exactly one pair
    un = g.groupBy("w2").agg(F.sum("_m").alias("_n"))
    real = g.filter(F.col("w1") != F.lit(""))
    bc = real.groupBy("w1", "w2").agg(F.sum("_m").alias("_nb"))
    ctx = bc.groupBy("w1").agg(F.sum("_nb").alias("_nc"))
    # assemble the LM as a BIGRAM-VOCAB-sized table first (bc ⋈ ctx ⋈
    # un ⋈ total are all vocabulary-shaped), then join the corpus-sized
    # doc-bigram frame ONCE on (w1, w2). The former layout threaded g
    # through three successive join keys — four corpus-sized shuffles
    # ((w1,w2), w1, w2, id); this shape has two (the LM join + the
    # final per-doc reduction), the difference that compounds at 100 TB.
    lm = _with_totals(
        bc.join(ctx, "w1").join(un, "w2"), un.agg(F.sum("_n").alias("_total"))
    ).select(
        "w1",
        "w2",
        (
            -F.log(
                F.lit(lam) * (F.col("_nb") / F.col("_nc"))
                + F.lit(1.0 - lam) * (F.col("_n") / F.col("_total"))
            )
        ).alias("_nlp"),
    )
    return _weighted_sum(
        real, lm, ["w1", "w2"], [id_col], "_m", F.col("_nlp")
    ).select(
        id_col,
        F.col("_n").alias("n_bigrams"),
        prnd(F.col("_s") / F.col("_n"), 6).alias("avg_neg_logprob"),
    )


def dup_cluster_sizes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-cluster size histogram: how many exact-duplicate
    clusters exist at each multiplicity — the first diagnostic anyone
    runs before choosing dedup thresholds ("is the corpus 2% exact-dup
    or 40%?"). Two agg shuffles, each smaller than the last (corpus →
    distinct fingerprints → distinct sizes); the md5 fingerprint
    evaluates next to the scan with only (fp) shuffling."""
    clusters = (
        spread_partitions(df)
        .select(fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


def corpus_health(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """One-row corpus health report — the summary a curation pipeline
    logs after every ingest: document count, exact-duplicate count and
    fraction (canonical fingerprints), mean token count, mean heuristic
    quality, and language-mix entropy (nats; 0 = monolingual).

    Plan: one narrow pass computes per-doc fingerprint/tokens/quality,
    feeding (a) a single global aggregate (count + distinct-fingerprint
    + means) and (b) a language rollup whose ≤#langs rows reduce to the
    entropy scalar; the two one-row frames cross-join. Nothing
    corpus-sized is ever collected."""
    from ..functions.text import quality_score, token_count

    d = df.select(
        fingerprint(F.col(text_col)).alias("_fp"),
        token_count(F.col(text_col)).alias("_nt"),
        quality_score(F.col(text_col)).alias("_q"),
        F.col(lang_col).alias("_lang"),
    )
    main = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("_fp").cast("long").alias("n_distinct"),
        F.avg("_nt").alias("_mt"),
        F.avg("_q").alias("_mq"),
    )
    lc = d.groupBy("_lang").agg(F.count(F.lit(1)).cast("long").alias("_c"))
    ent = (
        _with_totals(lc, F.sum("_c").alias("_t"))
        .select((F.col("_c") / F.col("_t")).alias("_p"))
        .agg((-F.sum(F.col("_p") * F.log("_p"))).alias("_ent"))
    )
    return main.crossJoin(ent).select(
        "n_docs",
        "n_distinct",
        prnd(F.lit(1.0) - F.col("n_distinct") / F.col("n_docs"), 6).alias(
            "dup_frac"
        ),
        prnd(F.col("_mt"), 6).alias("mean_tokens"),
        prnd(F.col("_mq"), 6).alias("mean_quality"),
        prnd(F.col("_ent"), 6).alias("lang_entropy"),
    )


def window_fp(col) -> Column:
    """128-bit window fingerprint (``unhex(md5)``, 16-byte binary) for
    the span tier.

    The span operators originally keyed windows by the 32-bit
    ``hash32``: birthday collisions start at ~77k distinct windows, and
    a collision between unrelated windows in two docs falsely marks
    both spans duplicated — fatal for ``remove_duplicate_spans``, which
    DESTRUCTIVELY deletes the covered tokens. At the
    billions-of-windows scale these docstrings target, 32 (or even 64)
    bits of identity make false removals routine, and the shared-hash
    DuckDB twin can never catch it. Full md5 is collision-free in
    practice at any corpus size; storing it as 16-byte binary rather
    than the 32-byte hex string halves the key bytes on the span tier's
    dominant exchange (the distinct (window, doc) shuffle). The value
    is internal grouping/join identity only — it never reaches a
    contract-query output, so the DuckDB twins may equivalently group
    by the hex form (``md5(v)``, bijective with this)."""
    return F.unhex(F.md5(col))


def _window_hash_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, n_windows, _toks) frame shared by the span operators:
    non-empty tokens projected once per row, window count from the
    token count. When the caller already carries a token-array column
    (``tokens_col``, e.g. a pinned pre-tokenized corpus in a pipeline
    composition), it is used as-is — no re-tokenize, no re-spread."""
    if tokens_col is not None:
        base = df.select(F.col(id_col), F.col(tokens_col).alias("_toks"))
    else:
        base = (
            spread_partitions(df)
            .select(F.col(id_col), tokens(F.col(text_col)).alias("_t0"))
            .select(
                F.col(id_col),
                F.filter(F.col("_t0"), lambda t: F.length(t) > 0).alias("_toks"),
            )
        )
    return base.select(
        F.col(id_col),
        F.greatest(
            F.size("_toks") - (window - 1), F.lit(0)
        ).cast("long").alias("n_windows"),
        F.col("_toks"),
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the hashed-window
    approximation of exact substring deduplication (the observation
    behind suffix-array dedup in "Deduplicating Training Data Makes
    Language Models Better": training corpora repeat long verbatim
    spans — licenses, boilerplate, quotes — that doc-level and even
    near-dup passes miss). A ``window``-token span is *duplicated* when
    its token sequence appears in >= ``min_docs`` distinct documents.

    Per doc: (n_windows, n_dup_windows, dup_span_frac). Docs shorter
    than ``window`` tokens have zero windows and a 0.0 fraction.

    Scale shape (the Spark-friendly equivalent of a suffix array):
    tokenize once per row -> explode one rolling window hash per token
    position (linear in corpus tokens, the same cost class as the
    shingle paths) -> ONE pass over the exploded stream: per-(hash,
    doc) multiplicities (partial-aggregated), then a count window
    keyed by the hash gives each row its distinct-doc count without a
    second traversal — the countDistinct + semi-join formulation
    re-executed the explode pipeline per consumer (measured 1.84s vs
    1.24s at sf0.1, 4 scans vs 2). The window partition size is the
    number of distinct docs sharing one span — the same skew class as
    ``line_dedup_global``'s per-line window (a corpus-dominant
    boilerplate span forms one large count-only partition; spills, but
    never a cartesian). Heavy frames only ever carry (id, 128-bit
    ``window_fp``) — wide enough that span identity never birthday-
    collides, and the partial agg shrinks the stream before the wide
    key ever shuffles. No quadratic stage, no driver state. Reference has no
    equivalent (SURVEY.md SS2.12 extension tier)."""
    counts = _window_hash_base(df, text_col, id_col, window)
    wh = counts.filter(F.col("n_windows") > 0).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_windows").cast("int")),
                lambda s: window_fp(F.concat_ws(" ", F.slice(F.col("_toks"), s, window))),
            )
        ).alias("_wh"),
    )
    # one exchange for the fingerprint stage (r7, same shape as
    # remove_duplicate_spans): hash by _wh alone — satisfies both the
    # (_wh, id) grouping and the _wh count window
    wdc = (
        wh.repartition(F.col("_wh"))
        .groupBy("_wh", id_col)
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    w = Window.partitionBy("_wh")
    dup = (
        wdc.withColumn("_nd", F.count(F.lit(1)).over(w))
        .filter(F.col("_nd") >= min_docs)
        .groupBy(id_col)
        .agg(F.sum("_m").cast("long").alias("n_dup_windows"))
    )
    return (
        counts.select(id_col, "n_windows")
        .join(dup, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            prnd(
                F.when(F.col("n_windows") > 0,
                       F.coalesce(F.col("n_dup_windows"), F.lit(0))
                       / F.col("n_windows")).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_span_frac"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) for the ``top_k`` most frequent tokens
    (natural text sits near -1; generated/boilerplate corpora drift).
    One-row output: (n_terms, zipf_slope, zipf_r2).

    Scale shape: token counts partial-aggregate to a vocabulary-sized
    frame; the rank comes from ``orderBy(freq desc, token).limit(top_k)``
    — TakeOrderedAndProject, never a global sort of the vocabulary (the
    same bounded-top-k discipline as key_skew_profile) — and the OLS
    sums reduce the <= top_k survivors to one row. Fitting on the head
    is the standard practice anyway: the tail is where Zipf's law
    breaks down and where hapax noise lives."""
    from pyspark.sql.window import Window

    freqs = _grams(df, [], "_tok", "_n", text_col)
    top = freqs.orderBy(F.col("_n").desc(), F.col("_tok").asc()).limit(top_k)
    w = Window.partitionBy(F.pmod(F.col("_n"), F.lit(1))).orderBy(
        F.col("_n").desc(), F.col("_tok").asc()
    )
    ranked = top.withColumn("_rank", F.row_number().over(w)).select(
        F.log(F.col("_rank").cast("double")).alias("_x"),
        F.log(F.col("_n").cast("double")).alias("_y"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_terms").cast("double")
    cov = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    varx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vary = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    return agg.select(
        "n_terms",
        prnd(cov / varx, 6).alias("zipf_slope"),
        prnd((cov * cov) / (varx * vary), 6).alias("zipf_r2"),
    )


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    max_words: int = 100_000,
    min_avg_word_len: float = 2.0,
    max_avg_word_len: float = 12.0,
    max_symbol_ratio: float = 0.25,
    max_digit_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.7,
    passthrough: tuple = (),
    keep_tokens: bool = False,
) -> DataFrame:
    """Gopher/MassiveText-style rule filter (Rae et al. §A1.1 class):
    per-document pass/fail plus WHICH rules fired, so curation runs can
    audit their own rejections instead of silently shrinking.

    ``passthrough`` carries extra input columns into the output and
    ``keep_tokens`` appends the computed token array as ``_toks`` — so a
    pipeline can gate AND tokenize in ONE scan-side projection instead
    of gating, semi-joining back, and re-tokenizing (two extra corpus
    passes at 100 TB).

    Rules (each a pure Catalyst expression — the whole operator is one
    zero-shuffle projection evaluated next to the scan):
    word count in [min_words, max_words]; mean word length in
    [min_avg_word_len, max_avg_word_len]; symbol(#/ellipsis)-to-word
    ratio; digit character ratio; fraction of words containing at least
    one alphabetic character. Thresholds default to the published
    values scaled for short test docs and are all keyword-tunable.
    Output: (id, n_words, pass, fail_reasons array — empty when pass).
    """
    toks = words(F.col(text_col))
    d = spread_partitions(df).select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        toks.alias("_toks"),
        *[F.col(c) for c in passthrough],
    )
    n_words = F.size("_toks").cast("long")
    avg_len = F.when(
        n_words > 0,
        F.aggregate(
            F.col("_toks"), F.lit(0), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_words,
    ).otherwise(F.lit(0.0))
    txt = F.coalesce(F.col("_txt"), F.lit(""))
    symbols = (
        F.length(txt)
        - F.length(F.regexp_replace(txt, r"[#…]|\.\.\.", ""))
    )
    symbol_ratio = F.when(n_words > 0, symbols / n_words).otherwise(F.lit(0.0))
    digits = F.length(txt) - F.length(F.regexp_replace(txt, r"[0-9]", ""))
    digit_ratio = F.when(
        F.length(txt) > 0, digits / F.length(txt)
    ).otherwise(F.lit(0.0))
    alpha_words = F.size(
        F.filter(F.col("_toks"), lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    alpha_ratio = F.when(n_words > 0, alpha_words / n_words).otherwise(
        F.lit(0.0)
    )

    checks = [
        ("too_few_words", n_words < min_words),
        ("too_many_words", n_words > max_words),
        ("avg_word_len", (avg_len < min_avg_word_len) | (avg_len > max_avg_word_len)),
        ("symbol_ratio", symbol_ratio > max_symbol_ratio),
        ("digit_ratio", digit_ratio > max_digit_ratio),
        ("alpha_word_ratio", alpha_ratio < min_alpha_word_ratio),
    ]
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in checks]
        ),
        lambda x: x.isNotNull(),
    )
    return d.select(
        F.col(id_col),
        n_words.alias("n_words"),
        (F.size(reasons) == 0).alias("pass"),
        reasons.alias("fail_reasons"),
        *[F.col(c) for c in passthrough],
        *([F.col("_toks")] if keep_tokens else []),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
    tokens_col: str | None = None,
) -> DataFrame:
    """Exact substring REMOVAL (the action half of duplicate_span_stats,
    after "Deduplicating Training Data Makes Language Models Better"):
    rebuild each document with every token covered by a cross-document
    duplicated window dropped. A token survives iff no flagged window
    position covers it.

    Plan: window fingerprints posexplode WITH positions, reduced ONCE to
    per-(fingerprint, doc) position sets; a count window keyed by the
    fingerprint gives each row its distinct-doc count without
    re-deriving the explode (the separate hot-set + semi-join
    formulation evaluated the fingerprint stream twice — same fix
    ``duplicate_span_stats`` measured at 1.84s -> 1.24s); flagged
    positions collect per doc (bounded by the doc's own window count)
    and the rebuild is a narrow indexed array filter — coverage check is
    O(flagged) per token, fine for the boilerplate densities this
    targets; fully-boilerplate docs come back empty rather than
    exploding. Output (id, clean_text, n_tokens, n_removed); token
    whitespace is normalized to single spaces (the same canonical form
    the fingerprints use). Pass ``tokens_col`` when the input already
    carries token arrays (pinned pipeline composition) to skip the
    tokenize."""
    counts = _window_hash_base(df, text_col, id_col, window, tokens_col)
    wh = counts.filter(F.col("n_windows") > 0).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_windows").cast("int")),
                lambda s: window_fp(
                    F.concat_ws(" ", F.slice(F.col("_toks"), s, window))
                ),
            )
        ).alias("_pos0", "_wh"),  # _pos0 is 0-based
    )
    # ONE exchange for the whole fingerprint stage: hash the exploded
    # stream by _wh alone — HashPartitioning(_wh) satisfies both the
    # (_wh, id) grouping (subset clustering) and the _wh count window,
    # where the former's own (_wh, id) exchange would NOT satisfy the
    # window and a second full shuffle of the reduced stream followed
    # (r7, VERDICT r6 #5). Skew exposure is unchanged: the window stage
    # always partitioned by _wh.
    wdc = (
        wh.repartition(F.col("_wh"))
        .groupBy("_wh", id_col)
        .agg(F.collect_set("_pos0").alias("_pp"))
    )
    w = Window.partitionBy("_wh")
    flagged = (
        wdc.withColumn("_nd", F.count(F.lit(1)).over(w))
        .filter(F.col("_nd") >= min_docs)
        .select(id_col, F.explode("_pp").alias("_pos0"))
        .groupBy(id_col)
        .agg(F.collect_set("_pos0").alias("_ps"))
    )
    rebuilt = (
        counts.join(flagged, id_col, "left")
        .withColumn("_ps", F.coalesce(F.col("_ps"), F.array().cast("array<int>")))
        .withColumn(
            "_kept",
            F.filter(
                F.col("_toks"),
                lambda t, i: ~F.exists(
                    F.col("_ps"), lambda p: (p <= i) & (i < p + window)
                ),
            ),
        )
    )
    return rebuilt.select(
        F.col(id_col),
        F.concat_ws(" ", F.col("_kept")).alias("clean_text"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size("_kept")).cast("long").alias("n_removed"),
    )
