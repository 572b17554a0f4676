"""Deduplication operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design notes (100 TB corpus, 1000 executors):
- Everything is expressed relationally (explode → shuffle-on-key → agg);
  no driver-side collections, and no Python on any text-dedup hot path
  (SimHash moved from an Arrow UDF to 64 codegen'd vote aggregates in
  round 2; the only Python left is the BLAS cosine kernels, which are
  Arrow-batched by design).
- The portable 60-bit hash (md5 prefix → BIGINT) is used instead of
  ``F.hash`` (murmur) so every stage is replicable in the DuckDB oracle —
  same cost class (one md5 per shingle) and engine-portable.
- MinHash/LSH follows Broder's scheme as used by web-scale dedup
  pipelines: k signatures → b bands of r rows; a candidate pair must share
  one full band (bucket join), then exact Jaccard verifies. Shuffle volume
  is O(docs × b), not O(docs²).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.rounding import prnd
from ..session import materialize

from ..functions.text import fingerprint

def spread_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism before
    compute-heavy per-row work. Necessary whenever the source is few
    unsplittable files (single-row-group parquet reads as ONE partition —
    all expression work would run on one core regardless of cluster
    size). One small shuffle buys full-width execution; skip via n=0."""
    if n == 0:
        return df
    n = n or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


# -- portable hashing --------------------------------------------------------


def portable_hash(col: Column, seed: int | str = 0) -> Column:
    """Deterministic 60-bit positive hash, identical in Spark and DuckDB:
    BIGINT of the first 15 hex digits of md5(seed || value). ``seed`` is
    stringified into the hash preimage, so int and str seeds are both
    first-class (manifest callers pass domain-separation strings like
    "sig"/"shard" — ADVICE r14 widened the annotation to match).
    DuckDB twin: CAST('0x' || substr(md5(seed || v), 1, 15) AS BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed)), col)), 1, 15), 16, 10
    ).cast("long")


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens (shared canonicalization).
    NULL text tokenizes as empty — real corpora carry NULLs, and
    ``F.size(NULL)`` = −1 would otherwise poison every downstream
    count/chunk/score (identical results for non-NULL input)."""
    return F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a PRE-TOKENIZED array column.
    Catalyst higher-order funcs only (transform over an index sequence) —
    no UDF. DuckDB twin uses list_transform + generate_series.

    ``toks`` should be an attribute reference (a projected column), not a
    raw ``tokens(text)`` expression tree: the reference inside the
    transform lambda is re-evaluated PER SHINGLE, where codegen's
    common-subexpression elimination can't reach — with the full
    split/lower/trim/coalesce tree inlined, that multiplied the r4
    canonicalizer's cost by shingle count (ngram_jaccard_pairs measured
    2.11s → 1.56s at sf0.1 after hoisting tokenization into its own
    projection)."""
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles straight from a text column. For
    hot paths prefer projecting ``tokens(text)`` into a column first and
    calling ``shingles_from_tokens`` on the attribute (see its note)."""
    return shingles_from_tokens(tokens(text), n)


def _shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, out: str = "shs"
) -> DataFrame:
    """(id, out: array<long>) — each document's distinct word-shingle
    ``hash32`` values, with tokenization hoisted into its own projection
    (see ``shingles_from_tokens``)."""
    return df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.transform(
            shingles_from_tokens(F.col("_toks"), shingle_n), hash32
        ).alias(out),
    )


# -- exact dedup -------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup on the canonical fingerprint: one row per
    distinct normalized text, keeping the smallest id (deterministic) and
    the duplicate count. Single shuffle on a 32-hex key; at 100 TB the
    md5 evaluates next to the scan, and only (fp, id) columns shuffle
    thanks to column pruning."""
    return (
        spread_partitions(df)
        .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus itself: rows whose id is the keeper —
    semi join against the keeper-id set (one long per distinct doc; AQE
    converts it to a broadcast join when the set is small)."""
    keepers = exact_dedup(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def dedup_against(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    self_dedup: bool = True,
) -> DataFrame:
    """Cross-snapshot incremental dedup: rows of ``new`` whose text does
    NOT already appear in ``seen`` — the standard step when each crawl
    snapshot is cleaned against everything previously ingested, without
    re-deduplicating the full history.

    Plan: one anti join on the md5 fingerprint. The ``seen`` side
    reduces to its DISTINCT fingerprints first (one 16-byte value per
    distinct historical doc — at 100 TB this is the persisted dedup
    index, re-read as a fingerprint column, not the corpus itself), so
    the shuffle moves fingerprints only. ``self_dedup=True`` also
    collapses duplicates WITHIN the new snapshot (smallest id wins),
    keeping the composition idempotent across snapshots."""
    base = exact_dedup_keep(new, text_col, id_col) if self_dedup else new
    seen_fp = (
        seen.select(fingerprint(F.col(text_col)).alias("_fp")).distinct()
    )
    return (
        base.withColumn("_fp", fingerprint(F.col(text_col)))
        .join(seen_fp, "_fp", "left_anti")
        .drop("_fp")
    )


# -- MinHash + LSH -----------------------------------------------------------


MINHASH_PRIME = 2147483647  # 2^31 - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-rehash coefficients (aᵢ, bᵢ) — shared with the
    DuckDB oracle SQL, which inlines the same values."""
    return [
        (((i * 2654435761) % (MINHASH_PRIME - 1)) | 1, (i * 40503 + 17) % MINHASH_PRIME)
        for i in range(num_hashes)
    ]


def hash32(col: Column) -> Column:
    """Portable 32-bit hash: BIGINT of the first 8 hex digits of md5.
    DuckDB twin: CAST('0x' || substr(md5(v), 1, 8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — Broder MinHash with the
    one-hash trick: each shingle is md5'd ONCE (the expensive op), then k
    affine rehashes (aᵢ·h + bᵢ) mod p derive the k permutations — k cheap
    integer ops instead of k md5s per shingle. All Catalyst expressions;
    engine-portable (same constants inlined in the oracle SQL).
    The reference has no equivalent (SURVEY.md §2.12)."""
    coeffs = minhash_coeffs(num_hashes)
    # Relational formulation: explode shingles → one md5 per shingle →
    # k min-aggregates. groupBy+min runs in whole-stage codegen with
    # map-side partial aggregation (vs interpreted array-lambda folds),
    # and the shuffle carries only (id, h) pairs.
    # NOTE: deliberately the INLINE word_shingles form. The tokens-hoist
    # that wins on the transform-based paths (ngram_jaccard 2.11s→1.29s)
    # measured ~20% SLOWER here (0.83s vs 0.67s at sf0.1, best-of-4):
    # under an explode generator the extra projection costs more than
    # the lambda re-evaluation saves. Measured, not assumed — re-measure
    # before "unifying" this with the other call sites.
    exploded = spread_partitions(df).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"),
    ).select(F.col(id_col), hash32(F.col("s")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"s{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    per_doc = exploded.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        F.col(id_col),
        F.array(*[F.col(f"s{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sig: DataFrame | None = None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing ≥1 LSH band.

    Plan shape: docs → signatures → explode b band-keys → shuffle on
    (band, band_hash) via self-join → distinct pairs. Band buckets are the
    only join key, so the shuffle is O(docs·b); no quadratic stage. Skewed
    buckets (boilerplate-heavy corpora) are handled by AQE skew-join
    splitting (enabled in session defaults).

    ``sig``: optionally pass a precomputed, already-materialized
    (id, sig) frame (e.g. a slice of ``build_minhash_index``) so a
    composition that also needs shingles computes them once.

    ``max_band_freq``: hot-band guard. A boilerplate family of m
    DISTINCT signatures that agree on one band contributes m²/2
    candidate pairs from that single bucket — AQE's skew split keeps the
    tasks balanced, but the m² output rows are irreducible as long as
    the band participates. Setting ``max_band_freq=N`` drops band
    buckets shared by more than N distinct signatures before the
    self-join (an anti join on the small hot-bucket list). LOSSY by
    design, like ngram_jaccard_pairs' ``max_doc_freq``: pairs whose
    ONLY shared band was dropped are missed (identical-signature groups
    are still always emitted via the intra leg). Measured at 16× sf0.1
    with a synthesized 1500-doc boilerplate family: see SCALING.md
    hot-band rows."""
    # band_hash_columns checks k % b before the signature pin runs a job.
    # The pin earns its eager job: dedup_minhash (build + toPandas) on
    # perfbench's full-scale seed-301 documents, 10 alternating pairs on
    # a 4-vCPU host, took 1.15 s pinned vs 1.52 s lazy (median; pinned
    # won all 10). Lazy cut build from 0.89 s to 0.50 s but raised
    # execution from 0.26 s to 1.02 s, re-deriving the signatures for
    # every join leg.
    keys = band_hash_columns(F.col("sig"), num_hashes, bands)
    if sig is None:
        sig = materialize(
            minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
        )
    return _banded_pairs(sig, id_col, "sig", keys, max_band_freq=max_band_freq)


def _banded_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    band_keys: list[Column],
    keep=None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Banded-signature self-join core of ``minhash_lsh_pairs`` and
    ``hamming_band_pairs``: doc pairs (id_a < id_b) whose signatures
    share a band key. ``sig`` is a pinned (id, ``sig_col``) frame, one
    signature per doc; ``band_keys`` are columns over ``sig_col``;
    ``keep`` optionally maps the (sig_a, sig_b) signature pairs, equal
    ones included — a filter, and any column it adds rides to the
    output; ``max_band_freq`` is the hot-bucket guard of
    ``minhash_lsh_pairs``.

    Duplicate-heavy corpora collapse to far fewer DISTINCT signatures
    than docs, and a group of m equal signatures would fan the band
    self-join out by m² per band (698M candidates for 12.4M true pairs,
    measured on the Hamming join at 16× sf0.1). So the distinct
    signatures are banded and self-joined, signature pairs expand back
    to doc pairs with two equi-joins (``inter``), and equal-signature
    groups pair directly (``intra``): 4.5× fewer candidate rows on the
    MinHash join at 16× sf0.1, same output. The distinct is NOT
    checkpointed: Catalyst reuses its exchange across both self-join
    legs (ReusedExchange), and a second eager materialization only
    added fixed latency (the r3 +0.48s bench regression)."""
    banded = _band_keys(sig.select(sig_col).distinct(), band_keys)
    if max_band_freq is not None:
        hot = (
            banded.groupBy("band", "bhash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_band_freq)
            .select("band", "bhash")
        )
        banded = banded.join(hot, ["band", "bhash"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    # signatures compare in a total order (array<long> included), so
    # "sig_a < sig_b" both orients and dedupes signature pairs; ``keep``
    # filters BEFORE the distinct, so rejected pairs never shuffle, and
    # the distinct runs over signature pairs (small), never doc pairs.
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bhash") == F.col("b.bhash"))
        & (F.col(f"a.{sig_col}") < F.col(f"b.{sig_col}")),
    ).select(
        F.col(f"a.{sig_col}").alias("sig_a"), F.col(f"b.{sig_col}").alias("sig_b")
    )
    sig_pairs = (keep(pairs) if keep else pairs).distinct()
    extra = [c for c in sig_pairs.columns if c not in ("sig_a", "sig_b")]
    ma = sig.select(F.col(id_col).alias("_ida"), F.col(sig_col).alias("sig_a"))
    mb = sig.select(F.col(id_col).alias("_idb"), F.col(sig_col).alias("sig_b"))
    inter = (
        sig_pairs.join(ma, "sig_a")
        .join(mb, "sig_b")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            *extra,
        )
    )
    equal = sig.alias("x").join(
        sig.alias("y"),
        (F.col(f"x.{sig_col}") == F.col(f"y.{sig_col}"))
        & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
    ).select(
        F.col(f"x.{id_col}").alias("id_a"),
        F.col(f"y.{id_col}").alias("id_b"),
        F.col(f"x.{sig_col}").alias("sig_a"),
        F.col(f"y.{sig_col}").alias("sig_b"),
    )
    intra = (keep(equal) if keep else equal).select("id_a", "id_b", *extra)
    # a doc pair appears exactly once: one signature per doc, signature
    # pairs are distinct, and intra (equal sigs) is disjoint from inter
    # (strictly ordered sigs) — no pair-level distinct needed.
    return inter.unionByName(intra)


def minhash_dedup_verified(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The production near-dup composition: MinHash-LSH candidate pairs,
    then exact n-gram Jaccard computed ONLY among candidate documents and
    kept only for candidate pairs ≥ threshold.

    Scale shape: LSH bounds the candidate set (linear shuffle); the
    quadratic-ish exact verification runs on the (usually tiny) candidate
    subgraph — docs outside any candidate pair are semi-joined away
    before their shingles ever explode.

    The candidate set feeds FOUR downstream consumers (both legs of the
    ``involved`` union, the subset semi-join, and the final pair
    semi-join); localCheckpoint materializes the signature+banding
    pipeline once instead of re-executing it per consumer (same pattern
    as bm25's term-count checkpoint — was 22 parquet scans/plan).

    A one-pass variant (signatures AND shingles from
    ``build_minhash_index``'s projection, checkpointed once) was
    measured 2.2× SLOWER at sf0.1: the 16 per-row array_min folds are
    interpreted expressions, while the relational signature's min
    aggregates run in whole-stage codegen — the shingle re-pass over
    the (small) candidate subset is cheaper than losing codegen on the
    full corpus."""
    cands = materialize(
        minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands, shingle_n)
    )
    involved = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    subset = df.join(involved, id_col, "left_semi")
    exact = ngram_jaccard_pairs(subset, text_col, id_col, shingle_n, threshold)
    return exact.join(cands, ["id_a", "id_b"], "left_semi")


def _band_keys(sig: DataFrame, keys: list[Column]) -> DataFrame:
    """Explode a signature frame into one row per band key: (…, band,
    bhash), ``keys`` being the band-key columns (``band_hash_columns``
    or ``bit_block_columns`` over the frame's signature)."""
    return sig.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("bhash"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("_bk"),
    ).select(*sig.columns, F.col("_bk.band"), F.col("_bk.bhash"))


def fuzzy_dedup_against(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    verify: bool = True,
) -> DataFrame:
    """Cross-snapshot NEAR-duplicate dedup: rows of ``new`` that are not
    near-duplicates of anything already in ``seen`` — the fuzzy twin of
    ``dedup_against`` (which only removes byte-identical text). This is
    the standard crawl-refresh step: each snapshot is LSH-screened
    against the accumulated corpus, never re-deduplicating the history.

    Plan shape (100 TB): MinHash signatures per side — at scale the
    ``seen`` side is the persisted signature index (one 16-slot array
    per historical doc), re-read as columns, not recomputed from text
    (``fuzzy_dedup_against_index``). Band candidates come from
    ``_cross_candidates``; with ``verify=True`` they are then confirmed
    by exact n-gram Jaccard computed ONLY on candidate docs
    (``_jaccard_screen``); band-only mode (``verify=False``) is the
    cheap high-recall screen.

    Returns the surviving rows of ``new`` (all original columns)."""
    keys = band_hash_columns(F.col("sig"), num_hashes, bands)
    # ONE signature pass over the tagged union of both corpora (ids may
    # collide across snapshots, so the grouping key is (side, id)), then
    # one materialization that every downstream consumer filters — the
    # two-pass form recomputed the seen side's shingle+md5 pipeline per
    # consumer and serialized four eager checkpoints.
    tagged = new.select(
        F.lit(0).alias("_side"), F.col(id_col), F.col(text_col)
    ).unionByName(
        seen.select(F.lit(1).alias("_side"), F.col(id_col), F.col(text_col))
    ).withColumn("_key", F.struct(F.col("_side"), F.col(id_col)))
    sig_all = materialize(
        minhash_signature(tagged, text_col, "_key", num_hashes, shingle_n)
    )
    sig_new, sig_seen = (
        sig_all.filter(F.col("_key._side") == side).select(
            F.col(f"_key.{id_col}").alias(id_col), "sig"
        )
        for side in (0, 1)
    )
    sig_cands, cands = _cross_candidates(sig_new, sig_seen, id_col, keys)
    if not verify:
        flagged_sigs = sig_cands.select("sig").distinct()
        flagged = sig_new.join(flagged_sigs, "sig", "left_semi").select(id_col)
        return new.join(flagged, id_col, "left_anti")
    return _jaccard_screen(
        new,
        cands,
        new,
        seen,
        id_col,
        threshold,
        lambda d: _shingle_hashes(d, text_col, id_col, shingle_n),
    )


def _cross_candidates(
    new_sig: DataFrame, seen_sig: DataFrame, id_col: str, keys: list[Column]
) -> tuple[DataFrame, DataFrame]:
    """Band-candidate step of the cross-corpus screens over two (id,
    sig, …) frames: the distinct (sig, sig_seen) signature pairs that
    share a band key, and the lazy (_nid, _sid) doc pairs they expand
    to. Only DISTINCT signatures are banded, so the equi-join moves
    O(distinct_sigs × b) rows; equal signatures across corpora match
    through every band, so no equality leg is needed."""
    bn = _band_keys(new_sig.select("sig").distinct(), keys)
    bs = _band_keys(seen_sig.select("sig").distinct(), keys)
    sig_cands = (
        bn.join(bs.withColumnRenamed("sig", "sig_seen"), ["band", "bhash"])
        .select("sig", "sig_seen")
        .distinct()
    )
    cands = (
        sig_cands.join(new_sig.select(F.col(id_col).alias("_nid"), "sig"), "sig")
        .join(
            seen_sig.select(
                F.col(id_col).alias("_sid"), F.col("sig").alias("sig_seen")
            ),
            "sig_seen",
        )
        .select("_nid", "_sid")
    )
    return sig_cands, cands


def _jaccard_screen(
    new: DataFrame,
    cands: DataFrame,
    new_src: DataFrame,
    seen_src: DataFrame,
    id_col: str,
    threshold: float,
    shingles=None,
) -> DataFrame:
    """Verify tail of the cross-corpus screens: ``new`` minus the rows
    with a candidate pair (``cands``: (_nid, _sid)) of exact shingle
    Jaccard ≥ threshold. Each source is semi-joined to its candidate
    docs BEFORE ``shingles`` maps it to (id, shs) (``None``: it already
    carries ``shs``, like a ``build_minhash_index``); set sizes ride the
    explode. ``cands`` is pinned: three consumers read it."""
    cands = materialize(cands)

    def _side(src: DataFrame, key: str, sz: str) -> DataFrame:
        ids = cands.select(F.col(key).alias(id_col)).distinct()
        shs = src.join(ids, id_col, "left_semi")
        # text sides are pinned after shingling: dedup_fuzzy_incremental
        # at sf0.1 took 8.1 s unpinned vs 4.1 s pinned (median of 5);
        # index sides are stored columns and stay lazy.
        shs = materialize(shingles(shs)) if shingles else shs
        return shs.select(
            F.col(id_col).alias(key),
            F.size("shs").cast("long").alias(sz),
            F.explode("shs").alias("sh"),
        )

    inter = (
        _side(new_src, "_nid", "sz_n")
        .join(_side(seen_src, "_sid", "sz_s"), "sh")
        .groupBy("_nid", "_sid", "sz_n", "sz_s")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(cands, ["_nid", "_sid"], "left_semi")
    )
    flagged = (
        inter.filter(
            F.col("inter") / (F.col("sz_n") + F.col("sz_s") - F.col("inter"))
            >= threshold
        )
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return new.join(flagged, id_col, "left_anti")


def sig_from_shingle_hashes(shs: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as a per-row expression over a hashed-shingle
    array: slot k = array_min of the k-th affine rehash. Bit-identical
    to the relational ``minhash_signature`` (same coefficients), but
    zero-shuffle — usable in streaming projections and index builds."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    shs,
                    lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME),
                )
            )
            for a, b in minhash_coeffs(num_hashes)
        ]
    )


def band_hash_columns(
    sig: Column, num_hashes: int = 16, bands: int = 4
) -> list[Column]:
    """The b LSH band keys of a MinHash signature as SEPARATE columns —
    the one band-key encoding: the self-join and the cross-corpus
    screens explode these columns to rows (``_band_keys``), so band
    keys agree everywhere. Band b is the md5 of its r = k/b
    signature slots, identical in the DuckDB oracle. At r=1 (the
    recall-certain geometry the LSH capstone pins) the md5 adds nothing
    — one slot IS the band key — so the slot value serializes directly
    and the per-signature hash work drops b× (measured on the capstone:
    the md5 chain was ~16 digest calls per distinct signature).

    Raises ValueError unless ``bands`` divides ``num_hashes``."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}): "
            "the b-bands-of-r-rows scheme requires b*r = k"
        )
    rows = num_hashes // bands
    return [
        (
            sig[b].cast("string")
            if rows == 1
            else F.md5(
                F.concat_ws(
                    ",",
                    *[sig[b * rows + r].cast("string") for r in range(rows)],
                )
            )
        ).alias(f"bhash_{b}")
        for b in range(bands)
    ]


def bit_block_columns(sig: Column, bands: int) -> list[Column]:
    """The ``bands`` equal-width bit blocks of a 64-bit signature as
    separate columns, lowest block first — block b is bits
    [b*w, (b+1)*w) with w = 64 // bands, an unsigned value. The
    Hamming-LSH counterpart of ``band_hash_columns``: two signatures
    within ``bands - 1`` bits share at least one equal block."""
    width = 64 // bands
    return [
        F.shiftrightunsigned(sig, b * width).bitwiseAND(F.lit((1 << width) - 1))
        for b in range(bands)
    ]


def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Build the persisted fuzzy-dedup index for a corpus: one row per
    doc with everything cross-snapshot probing needs — (id, sig:
    array<long>, shs: array<long> hashed shingles, sz) — so the next
    snapshot can be screened WITHOUT re-reading or re-tokenizing the
    history (``fuzzy_dedup_against`` recomputes the seen side each run;
    at 100 TB you build this once per ingest and append).

    Plan: a ZERO-SHUFFLE projection — the shingle array is hashed once
    per row and each signature slot is an ``array_min`` over the k-th
    affine rehash of that array (bit-identical to the relational
    ``minhash_signature``, which derives the same minima via
    explode+groupBy; equivalence pinned by test). Write it with
    ``write_parquet(..., partition_by=...)`` like any frame.

    Cost note (measured at sf0.1): the per-row folds are interpreted
    expressions, ~3× more CPU than the relational signature's
    codegen'd min aggregates — the projection buys ZERO exchanges, the
    right trade for an index-build write job (scan→project→write, no
    shuffle at any size); for compute-bound in-job signature use, prefer
    ``minhash_signature``."""
    d = _shingle_hashes(df, text_col, id_col, shingle_n)
    sig = sig_from_shingle_hashes(F.col("shs"), num_hashes)
    return d.select(
        F.col(id_col),
        sig.alias("sig"),
        F.col("shs"),
        F.size("shs").cast("long").alias("sz"),
    )


def fuzzy_dedup_against_index(
    new: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """``fuzzy_dedup_against`` probing a PREBUILT history index (from
    ``build_minhash_index``) instead of the history corpus: the history
    text never loads, its shingles never recompute — band candidates
    come from the index's signatures, exact-Jaccard verification from
    the index's stored shingle arrays. Output and semantics are
    identical to ``fuzzy_dedup_against(new, seen)`` when ``index =
    build_minhash_index(seen)`` (pinned by test)."""
    keys = band_hash_columns(F.col("sig"), num_hashes, bands)
    ni = materialize(
        build_minhash_index(new, text_col, id_col, num_hashes, shingle_n)
    )
    _, cands = _cross_candidates(ni, index, id_col, keys)
    return _jaccard_screen(new, cands, ni, index, id_col, threshold)


def _posting_pairs(
    postings: DataFrame,
    id_col: str,
    max_key_freq: int | None,
    agg: Column,
    sizes,
) -> DataFrame:
    """Posting-list self-join core of ``ngram_jaccard_pairs``,
    ``ngram_containment_pairs`` and ``tfidf.tfidf_cosine_pairs``: doc
    pairs (id_a < id_b) sharing a key, with ``agg`` over their shared
    postings (``a.``/``b.`` name the sides: a count, or Σ a.w·b.w).

    ``postings`` is (id, key: array of a doc's distinct keys, exploded
    here) or (id, key, w) rows, pinned ONCE here: it feeds both
    self-join legs and the sizes (Spark plans self-joins as independent
    subtrees — unpinned, tokenization + shingling + md5 re-execute per
    leg). ``max_key_freq`` drops keys posted by more than that many docs
    before the join (huge fan-out, little signal; LOSSY). ``sizes(pinned,
    kept)`` gives each doc's (id, m) — from the pinned frame or the kept
    postings — joined to the pairs as m_a and m_b."""
    pinned = materialize(postings)
    kept = pinned
    if isinstance(pinned.schema["key"].dataType, ArrayType):
        kept = pinned.select(F.col(id_col), F.explode("key").alias("key"))
    if max_key_freq is not None:
        rare = (
            kept.groupBy("key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_key_freq)
            .select("key")
        )
        kept = kept.join(rare, "key", "left_semi")
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(agg)
    )
    m = sizes(pinned, kept)
    (col,) = [c for c in m.columns if c != id_col]
    ma = m.select(F.col(id_col).alias("id_a"), F.col(col).alias(f"{col}_a"))
    mb = m.select(F.col(id_col).alias("id_b"), F.col(col).alias(f"{col}_b"))
    return pairs.join(ma, "id_a").join(mb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via an inverted shingle index:
    explode distinct shingles → self-join on shingle → count shared →
    |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold (``_posting_pairs``).

    Fully relational (GROUP BY + JOIN), so DuckDB-checkable. The join key
    is the portable 32-bit shingle hash, not the shingle string — 8-byte
    shuffle keys instead of ~30-char strings (hash collisions fold two
    shingles together identically in both engines, so differential
    equality holds).

    ``max_doc_freq`` drops boilerplate shingles present in more than
    that many docs before the pair join. LOSSY: Jaccard is then
    computed over the pruned shingle sets, sizes included."""

    def sizes(pinned: DataFrame, kept: DataFrame) -> DataFrame:
        if max_doc_freq is None:
            return pinned.select(
                F.col(id_col), F.size("key").cast("long").alias("sz")
            )
        return kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    return (
        _posting_pairs(
            _shingle_hashes(
                spread_partitions(df), text_col, id_col, shingle_n, "key"
            ),
            id_col,
            max_doc_freq,
            F.count(F.lit(1)).alias("inter"),
            sizes,
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", prnd("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """DIRECTED n-gram containment join (r11): emit (src_id, dst_id,
    containment) where containment = |sh(src) ∩ sh(dst)| / |sh(src)| ≥
    threshold — "src is (mostly) contained in dst". The asymmetric
    companion to ``ngram_jaccard_pairs``: a short quote inside a long
    page scores near-zero Jaccard (the union is huge) but containment
    ≈ 1, which is exactly the quotes/boilerplate/subset-page signal a
    curation pipeline needs. Same inverted-index plan as the Jaccard
    join — the shared-shingle count is computed ONCE per unordered
    pair (id-ordered join) and both directions derive from it
    relationally, so the directed output costs no extra shuffle. Same
    portable 32-bit shingle hashing, so the DuckDB twin is exact.

    ``max_doc_freq`` (r12 — the 100-TB guard this operator needs MORE
    than its siblings): drop shingles present in more than that many
    docs BEFORE the posting self-join. Containment exists to catch
    quotes/boilerplate/template text — precisely the shingles shared
    by millions of non-duplicate pages, where an unguarded posting
    self-join goes quadratic on the hottest keys. The error is
    ONE-SIDED and the direction is documented: intersections are
    counted over the PRUNED postings while denominators |sh(src)|
    stay the UNPRUNED shingle-set sizes, so measured containment can
    only UNDERESTIMATE the true value — pruning never manufactures a
    pair above threshold, it can only miss pairs whose overlap lives
    entirely in boilerplate shingles (which is the point). Matches
    ``ngram_jaccard_pairs``' ``max_doc_freq`` (dedup.py) and the LSH
    band join's ``max_band_freq`` knob."""
    # denominators ALWAYS come from the unpruned shingle sets — see the
    # one-sided-error contract above
    both = _posting_pairs(
        _shingle_hashes(spread_partitions(df), text_col, id_col, shingle_n, "key"),
        id_col,
        max_doc_freq,
        F.count(F.lit(1)).alias("inter"),
        lambda pinned, kept: pinned.select(
            F.col(id_col), F.size("key").cast("long").alias("sz")
        ),
    )
    fwd = both.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        (F.col("inter") / F.col("sz_a")).alias("containment"),
    )
    bwd = both.select(
        F.col("id_b").alias("src_id"),
        F.col("id_a").alias("dst_id"),
        (F.col("inter") / F.col("sz_b")).alias("containment"),
    )
    return (
        fwd.unionByName(bwd)
        .filter(F.col("containment") >= threshold)
        .select(
            "src_id", "dst_id", prnd("containment", 6).alias("containment")
        )
    )


# -- SimHash -----------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Charikar SimHash over whitespace tokens: per-bit majority vote of
    64-bit md5-derived token hashes → one 64-bit signature per doc.

    Fully per-row — a signature depends on one document only, so the
    operator is a narrow projection with ZERO shuffles beyond the
    spread_partitions round-robin (the explode→groupBy(doc)→join-back
    formulation paid two shuffles for per-doc state that fits in a
    64-int array). Per row: distinct tokens → one md5 each (carried as
    two 32-bit halves, hi/lo of the first 16 hex digits, since a lone
    unsigned-64 doesn't fit a Spark LONG) → one ``aggregate`` fold
    maintaining 64 vote counters (``zip_with`` +getbit ±1) → unrolled
    64-term bit assembly. Bit 63's weight is the sign bit — adding the
    min-long literal wraps to the correct two's-complement pattern, so
    signatures remain bit-identical to the DuckDB UBIGINT twin and to
    the explode-formulation output (equivalence measured, 0 mismatches
    at sf0.1). Empty docs fold zero tokens → all counters 0 → signature
    0 (the empty-doc rule), no join-back needed."""
    toks_arr = F.array_distinct(
        F.filter(F.col("_toks"), lambda t: F.length(t) > 0)
    )
    # md5 ONCE per token (a first transform), then split hi/lo from the
    # hex prefix: inlining md5(t) into both conv() calls evaluated the
    # digest twice per token (lambda bodies see no common-subexpression
    # elimination). Bit-identical output, measured 0 mismatches.
    md5s = F.transform(toks_arr, lambda t: F.substring(F.md5(t), 1, 16))
    hs = F.transform(
        md5s,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )
    counters = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), 64),
        lambda acc, x: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(63)),
            lambda c, b: c
            + (
                F.getbit(
                    F.when(b < 32, x["lo"]).otherwise(x["hi"]), b % 32
                ).cast("int")
                * 2
                - 1
            ),
        ),
    )
    sig = None
    for b in range(64):
        bitval = (
            F.lit(-(1 << 63)).cast("long")
            if b == 63
            else F.lit(1 << b).cast("long")
        )
        term = F.when(F.element_at(counters, b + 1) > 0, bitval).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return (
        spread_partitions(df)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), sig.alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, using the
    standard bit-block LSH: split the 64-bit signature into ``bands``
    blocks; any pair within distance b-1 of b blocks shares ≥1 exact block
    (pigeonhole). Join on (block_idx, block_value) — linear shuffle."""
    # localCheckpoint before the self-join: without it both join sides
    # re-execute the full explode->md5->64-vote signature pipeline
    # (Spark plans self-joins as two independent subtrees), which
    # measured >2x the whole operator's cost at 16x scale. Signatures
    # are one (id, long) row per doc -- cheap to pin.
    sh = materialize(simhash(df, text_col, id_col))
    return hamming_band_pairs(
        sh, "simhash", id_col, max_hamming=max_hamming, bands=bands
    )


def hamming_band_pairs(
    sh: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Generic 64-bit-signature near-dup pair join by Hamming distance ≤
    ``max_hamming`` via bit-block LSH — the shared engine behind
    ``simhash_pairs`` (text) and ``multimodal.dhash_pairs`` (images).
    Requires ``max_hamming <= bands - 1`` so the pigeonhole guarantee
    makes the band join EXACT: flipping at most b-1 of b blocks leaves
    ≥1 block identical, so no qualifying pair can be missed.

    Input must be a MATERIALIZED (id, sig) frame (both self-join legs
    and the member-expansion joins consume it; an unpinned upstream
    would re-execute per leg). Output (id_a < id_b, hamming): the
    ``_banded_pairs`` core over the bit blocks, with the Hamming filter
    as its ``keep`` step (identical signatures pair at hamming 0)."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands>={max_hamming + 1} "
            f"for exact band-LSH recall (got bands={bands})"
        )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    keep = lambda p: p.withColumn("hamming", hamming).filter(  # noqa: E731
        F.col("hamming") <= max_hamming
    )
    blocks = bit_block_columns(F.col(sig_col), bands)
    return _banded_pairs(sh, id_col, sig_col, blocks, keep)


# -- embedding near-dup ------------------------------------------------------


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_blocks: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Block-pair matrix-multiply plan: vectors are hashed into ``num_blocks``
    blocks; each of the B·(B+1)/2 block pairs is one ``applyInPandas``
    group that computes an (nᵢ × nⱼ) cosine matrix with numpy/BLAS and
    emits only pairs over threshold. Arrow moves each vector ×B times
    (not ×n as a pair-row join would), and the O(n²·d) flops run in BLAS
    instead of per-pair interpreted expressions — ~100× over the
    expression-tree formulation. Exact (no candidate loss); the sub-
    quadratic scale path for 100 TB is LSH prefiltering
    (similarity.hyperplane_bits) feeding this verifier within buckets."""
    import pyarrow  # noqa: F401 — fail early if Arrow is unavailable

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    n_b = num_blocks
    # pmod, not abs(hash)%n: hash() == Int.MinValue would make abs wrap
    # negative (ANSI off), the remainder stay negative, and that vector
    # silently join no block pair — its near-dup pairs would be missed.
    blk = F.pmod(F.hash(F.col(id_col)), F.lit(n_b)).alias("blk")
    vecs = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), blk)

    # tiny driver-side list of block pairs (ba <= bb), crossed with data
    # via two equi-joins on block id — no O(n^2) row join anywhere.
    spark = df.sparkSession
    pairs = [(a, b) for a in range(n_b) for b in range(n_b) if a <= b]
    pair_df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], ["pid", "ba", "bb"]
    )
    left = pair_df.join(vecs, F.col("ba") == F.col("blk")).select(
        "pid", "ba", "bb", F.col("vid").alias("id"), F.col("v").alias("vec"),
        F.lit(0).alias("side"),
    )
    right = pair_df.join(vecs, F.col("bb") == F.col("blk")).select(
        "pid", "ba", "bb", F.col("vid").alias("id"), F.col("v").alias("vec"),
        F.lit(1).alias("side"),
    )
    both = left.unionByName(right)

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    thr = float(threshold)

    def block_cos(pdf: "pd.DataFrame") -> "pd.DataFrame":
        same = pdf["ba"].iat[0] == pdf["bb"].iat[0]
        a_rows = pdf[pdf["side"] == 0]
        b_rows = pdf[pdf["side"] == 1]
        if a_rows.empty or b_rows.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        A = np.vstack(a_rows["vec"].to_numpy()).astype(np.float64)
        B = np.vstack(b_rows["vec"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        sims = A @ B.T
        # portable rounding (see functions.rounding)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        ids_a = a_rows["id"].to_numpy()
        ids_b = b_rows["id"].to_numpy()
        ii, jj = np.nonzero(sims >= thr)
        id_a, id_b, cs = ids_a[ii], ids_b[jj], sims[ii, jj]
        keep = id_a < id_b if same else np.ones(len(id_a), dtype=bool)
        lo = np.minimum(id_a, id_b)[keep] if not same else id_a[keep]
        hi = np.maximum(id_a, id_b)[keep] if not same else id_b[keep]
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cs[keep]})

    return both.groupBy("pid").applyInPandas(block_cos, out_schema)


def embedding_dedup_bucketed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    num_planes: int = 6,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: hyperplane-LSH bucket prefilter →
    exact cosine verification ONLY within buckets.

    This is the 100 TB scale path that ``embedding_dedup_pairs`` (exact
    all-pairs) cannot be: the only shuffle is a groupBy on the bucket id,
    and the O(n²·d) BLAS kernel runs per bucket (n = bucket size, not
    corpus size). ``multiprobe=1`` additionally probes every 1-bit-flip
    bucket, so any pair within Hamming distance 1 of each other's
    signatures still collides — the standard recall upgrade at
    (1+num_planes)× shuffle volume. Approximate by construction: a pair
    whose signatures differ by >multiprobe bits is missed (recall rises
    with cos: at cos ≥ 0.9 the per-plane agreement is ~0.9). Recall vs
    the exact operator is pinned in tests/test_scale_ops.py."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from .similarity import hyperplane_bits

    b = hyperplane_bits(
        df.select(id_col, vec_col), vec_col, num_planes, seed, out="bucket"
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
        )
        b = b.withColumn("bucket", F.explode(probes))

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    thr = float(threshold)

    def bucket_cos(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        sims = V @ V.T
        sims = np.floor(sims * 1e6 + 0.5) / 1e6  # portable rounding
        ids = pdf[id_col].to_numpy().astype(np.int64)
        ii, jj = np.nonzero(sims >= thr)
        keep = ids[ii] < ids[jj]
        return pd.DataFrame(
            {"id_a": ids[ii][keep], "id_b": ids[jj][keep], "cos": sims[ii, jj][keep]}
        )

    # distinct: with multiprobe a pair can collide in several probed
    # buckets; cos is rounded identically everywhere so the dedup is exact
    return b.groupBy("bucket").applyInPandas(bucket_cos, out_schema).distinct()


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the BEST row per duplicate group instead of
    the smallest id: within each canonical-fingerprint group the keeper
    has the highest score, with the smallest id breaking ties
    deterministically. The curation-correct keeper rule: when a page
    was crawled five times, keep the best-quality capture, not the
    first-seen one.

    One aggregation shuffle on the 16-byte fingerprint using ``min_by``
    over a (-score, id) comparison struct (partial-aggregated map-side —
    a window/rank formulation would sort whole groups instead), then a
    semi join back. Keeps all original columns. Only the SCORE is
    negated (scores are numeric by contract); the id rides the struct
    un-negated, so string/date/any orderable id type tie-breaks
    correctly — negating the id would cast a string id to double
    (NULL), making the keeper nondeterministic on score ties."""
    keyed = df.select(
        fingerprint(F.col(text_col)).alias("_fp"),
        F.col(id_col),
        F.col(score_col).alias("_score"),
    )
    keepers = keyed.groupBy("_fp").agg(
        F.min_by(
            id_col,
            F.struct((-F.col("_score")).alias("_negscore"), F.col(id_col)),
        ).alias(id_col)
    )
    return df.join(keepers.select(id_col), id_col, "left_semi")


# -- Bloom-filter pre-screen (r10) -------------------------------------------


def bloom_build(
    df: DataFrame,
    value_col: str = "text",
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
    hashed: bool = False,
) -> DataFrame:
    """Bloom filter over a corpus as a DataFrame of OCCUPIED bit
    positions — at most ``min(n·k, num_bits)`` rows of one long, so it
    broadcasts, persists as parquet, and MERGES with a plain
    union+distinct (bloom filters are bitwise-OR-able). Values hash
    through the canonical fingerprint first (``hashed=True`` skips
    that when ``value_col`` already holds fingerprints — e.g. the
    persisted dedup index). Position hashes are the portable md5
    convention, so build and probe agree across engines and sessions.

    NULL handling mirrors the probe side exactly: in the raw-text path
    ``fingerprint`` coalesces NULL to md5(''), so NULL/empty seen docs
    DO populate the filter — dropping them here would make a probe of a
    new NULL-text doc report definitely-new, a false negative violating
    the Bloom contract. Only the ``hashed=True`` path (where a NULL is a
    genuinely absent fingerprint, not a document) filters NULLs."""
    v = F.col(value_col) if hashed else fingerprint(F.col(value_col))
    d = spread_partitions(df)
    if hashed:
        d = d.filter(F.col(value_col).isNotNull())
    return (
        d.select(
            F.explode(
                F.array(
                    *[
                        (portable_hash(v, seed=f"bl{i}") % num_bits).alias(
                            "pos"
                        )
                        for i in range(num_hashes)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )


def bloom_maybe_contains(
    df: DataFrame,
    bloom: DataFrame,
    value_col: str = "text",
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
    hashed: bool = False,
    out: str = "maybe_seen",
) -> DataFrame:
    """Membership probe with the Bloom contract: ``out`` False means
    DEFINITELY not in the building corpus (no false negatives, ever);
    True means maybe (false-positive rate ≈ (1 − e^(−kn/m))^k). Plan
    shape: ``num_hashes`` broadcast LEFT joins of position columns
    against the (re-broadcastable) occupied-position set, kept as
    columns rather than exploded rows, so the probe adds ZERO shuffles
    and runs on streams unchanged."""
    v = F.col(value_col) if hashed else fingerprint(F.col(value_col))
    probed = df.withColumns(
        {
            f"_blp{i}": portable_hash(v, seed=f"bl{i}") % num_bits
            for i in range(num_hashes)
        }
    )
    hit_cols = []
    for i in range(num_hashes):
        side = F.broadcast(
            bloom.select(
                F.col("pos").alias(f"_blq{i}"), F.lit(1).alias(f"_blh{i}")
            )
        )
        probed = probed.join(
            side, probed[f"_blp{i}"] == side[f"_blq{i}"], "left"
        ).drop(f"_blq{i}")
        hit_cols.append(f"_blh{i}")
    maybe = None
    for h in hit_cols:
        cond = F.col(h).isNotNull()
        maybe = cond if maybe is None else (maybe & cond)
    return probed.withColumn(out, maybe).drop(
        *hit_cols, *[f"_blp{i}" for i in range(num_hashes)]
    )
