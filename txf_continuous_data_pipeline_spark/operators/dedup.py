"""Deduplication operators for large-scale training-data pipelines.

Beyond-the-reference extension set (SURVEY.md section 7 step 7): exact
dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification,
all over `documents(doc_id, text, ...)`.

Scale design:
  - exact: hash-groupBy on a digest of the normalized text - the
    canonical "one shuffle over digests" plan; payload never shuffles
    twice.
  - MinHash: per-doc hashed shingle set (JVM) -> one Arrow batch UDF
    for the k per-lane minima (zero shuffle) -> band hashes -> explode
    bands -> self-join on (band, hash) for candidates -> EXACT Jaccard
    verification on the candidate pairs only. Candidates are a tiny
    fraction of n^2; the full cross join never materializes.
  - SimHash: JVM token hashes -> one Arrow batch UDF majority vote
    (zero shuffle) -> banded chunk join -> exact popcount verify.
Everything except the two signature votes is built-in expressions; the
votes are the repo's documented vectorized-Arrow exception (k-wide /
64-wide aggregate expression trees measured 10x slower than one numpy
batch - same lesson as the cosine and LSH-plane signatures)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def normalized_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens of trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


#: modulus of the engine-wide 60-bit hash family (see h60)
H60_MOD = 1 << 60


def h60(col: Column) -> Column:
    """Deterministic 60-bit hash of a string column: the first 15 hex
    chars of md5, as a non-negative bigint.

    This is the engine's cross-checkable hash family: DuckDB computes
    the identical value as ``CAST('0x' || substr(md5(s), 1, 15) AS
    BIGINT)``, so every hash-derived operator (MinHash lanes, LSH band
    buckets, SimHash fingerprints, rolling fingerprints) can carry a
    value-level oracle instead of a rows-only check. 60 bits keeps the
    value strictly positive in an int64 on both engines (no sign-bit
    disagreement) while collision odds at corpus scale stay negligible
    (~n^2 / 2^61). md5 is a few ns/row slower than xxhash64 but both
    are JVM-codegen'd scan-side projections - invisible next to the
    shuffle the consumers do afterwards."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups keyed by md5 digest: keep the smallest id,
    count members. Hashing first means the wide text column is reduced
    to a 32-byte key before the shuffle."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def dropDuplicates_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one row (smallest id) per distinct text."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def token_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (array form).

    NOTE: higher-order functions (transform/slice) are interpreted
    per-element, not codegen'd - fine for small inputs, but the hot path
    should use shingles_exploded below (measured ~3x faster at sf0.1)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(tokens, i + 1, n), " "),
        )
    )


def shingles_exploded(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
    hashed: bool = False,
    count_col: str | None = None,
) -> DataFrame:
    """Distinct (id, shingle) pairs, built shuffle-free per document:
    arrays_zip of the token array against its own n-1 shifted slices,
    one concat_ws per zipped struct. No window, no sort, no exchange
    before the final distinct - measured 3.4x faster than a
    lead()-window build and 4.8x faster than per-index transform/slice
    (each slice call re-allocates a subarray).

    Semantics identical to token_shingles: docs shorter than n tokens
    contribute their whole text as one shingle (arrays_zip null-pads the
    short slices and concat_ws skips nulls).

    hashed=True replaces each shingle with its h60 hash inside the
    per-doc array: 8-byte join keys instead of ~20-char strings
    (collision odds ~1e-11 at testdata cardinality). count_col attaches
    the per-doc distinct-shingle count, read off the array for free -
    no window, no second aggregate. Because the per-doc array is
    deduplicated before exploding, the output needs NO distinct - this
    operator contains zero exchanges.
    """
    # Two-step on purpose: the array must be materialized in its own
    # projection BEFORE the explode references it. Built in one select,
    # Catalyst inlines the whole array expression into both the
    # generator and the size() output above it, re-evaluating the
    # interpreted transform chain per OUTPUT row (measured 10x slower).
    arr = shingle_array(F.col(text_col), n=n, hashed=hashed)
    staged = df.select(
        F.col(id_col),
        *extra_cols,
        *([F.size(arr).alias(count_col)] if count_col else []),
        arr.alias("_arr"),
    )
    return staged.select(
        F.col(id_col),
        *extra_cols,
        *([count_col] if count_col else []),
        F.explode("_arr").alias("shingle"),
    )


def shingle_array(text: Column, *, n: int = 3, hashed: bool = False) -> Column:
    """Per-row distinct shingle set as an array column (the zero-shuffle
    core of shingles_exploded; see its docstring for the construction)."""
    t = normalized_tokens(text)
    size = F.size(t)
    zipped = F.arrays_zip(
        t.alias("_t0"),
        *[
            F.slice(t, i + 1, size).alias(f"_t{i}")
            for i in range(1, n)
        ],
    )
    shingles = F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x[f"_t{i}"] for i in range(n)])
    )
    # the zip is as long as the full token array; drop the trailing
    # partial n-grams, but keep entry 0 (the whole text) for short docs
    full = F.when(
        size >= n, F.slice(shingles, 1, F.greatest(size - (n - 1), F.lit(1)))
    ).otherwise(F.slice(shingles, 1, 1))
    if hashed:
        full = F.transform(full, lambda x: h60(x))
    return F.array_distinct(full)


def remove_duplicated_spans(
    df: DataFrame,
    *,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite documents with cross-document duplicated n-token spans
    EXCISED - the remediation step behind dup_span_stats' measurement
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": substring-level dedup, not whole-doc). A span is
    duplicated when its h60 hash occurs in >= `min_df` DISTINCT
    documents; every token covered by any occurrence of a duplicated
    span is dropped, and the cleaned text is the surviving normalized
    tokens rejoined with single spaces.

    Span identity matches dup_span_stats exactly (n-token windows of
    the normalized token stream, h60-hashed; docs with 1..n-1 tokens
    contribute their whole text as one span, so a short doc duplicated
    verbatim elsewhere is removed entirely). Empty/whitespace-only
    docs have no tokens and pass through unchanged.

    Output: (id_col, text, n_tokens, n_tokens_removed) - one row per
    input row; `text` is the cleaned document.

    Scale shape: positioned spans are a zero-shuffle per-doc projection
    (the arrays_zip construction of shingle_array, positions free from
    posexplode); the duplicated set is one hash-keyed aggregate over
    8-byte span hashes (never text); per-doc removal starts come back
    via a semi-join + collect on the doc id. No pairwise work anywhere:
    cost tracks corpus size + span collisions, never doc-pairs - the
    same posture as dup_span_stats. The per-token coverage test is
    exists() over that doc's duplicated starts: linear in
    tokens x dup-starts per doc, bounded in practice because upstream
    chunking bounds document length.
    """
    spanned = _positioned_spans(df, n=n, id_col=id_col, text_col=text_col)
    ex = spanned.select(
        F.col(id_col), F.posexplode("_spans").alias("_i", "_h")
    )
    # ONE span-mass exchange (r15, guide S2.4): HashPartitioning(_h)
    # satisfies both the (id, _h) dedup clustering and the _h-keyed
    # frequency aggregate, so the distinct -> groupBy chain that
    # previously shuffled the span mass twice now shuffles it once
    # (per-doc span repeats are rare, so the lost map-side partial
    # dedup was saving almost nothing).
    hot = (
        ex.select(id_col, "_h")
        .repartition(F.col("_h"))
        .dropDuplicates([id_col, "_h"])
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_h")
    )
    return _excise_spans(
        spanned, ex, hot, n=n, id_col=id_col, text_col=text_col
    )


def remove_duplicated_spans_keep_first(
    df: DataFrame,
    *,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lee et al.'s KEEP-ONE remediation at the span grain:
    remove_duplicated_spans excises EVERY occurrence of a duplicated
    span (the corpus keeps zero copies of the boilerplate);
    deduplicating-to-one instead keeps each duplicated span's
    canonical FIRST occurrence - smallest (doc id, position) - and
    excises only the others, so the cleaned corpus still contains the
    content exactly once (the paper's dedup semantics, vs the
    scrub-everything semantics a contamination pass wants). A token
    survives unless covered by a NON-first occurrence of some hot
    span; the first occurrence's tokens can still fall to a different
    span's non-first occurrence covering them (overlap is resolved
    token-wise, deterministically).

    Same scale shape as remove-all plus one aggregate: the canonical
    first is ONE hash-keyed groupBy over 8-byte span hashes
    (min((doc, pos)) rides the same aggregate that computes the
    distinct-doc frequency), then a join back to the occurrence rows;
    still no pairwise work anywhere. Output schema matches
    remove_duplicated_spans."""
    spanned = _positioned_spans(df, n=n, id_col=id_col, text_col=text_col)
    ex = spanned.select(
        F.col(id_col), F.posexplode("_spans").alias("_i", "_h")
    )
    # ONE span-mass exchange (r15): countDistinct alongside a regular
    # aggregate plans as an Expand that shuffles the span mass TWICE
    # (measured 11.1 vs the remove-all lane's 6.2 MB). Repartition on
    # _h once - that partitioning satisfies the (_h, id) rollup AND
    # the _h-keyed finalize, so both aggregates run partition-local:
    # _df = row count over per-(h, doc) minima = distinct docs, and
    # min(struct(d, i)) over per-doc minima = the global canonical
    # first. Value-identical by construction.
    per_doc = (
        ex.repartition(F.col("_h"))
        .groupBy("_h", id_col)
        .agg(F.min("_i").alias("_i"))
    )
    firsts = (
        per_doc.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_df"),
            F.min(
                F.struct(
                    F.col(id_col).alias("d"), F.col("_i").alias("i")
                )
            ).alias("_first"),
        )
        .where(F.col("_df") >= min_df)
        .select("_h", "_first")
    )
    removal = ex.join(firsts, "_h").where(
        ~(
            (F.col(id_col) == F.col("_first.d"))
            & (F.col("_i") == F.col("_first.i"))
        )
    )
    return _excise_starts(
        spanned, removal, n=n, id_col=id_col, text_col=text_col
    )


def _positioned_spans(
    df: DataFrame, *, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, _toks, _spans) per doc: _spans[i] = h60 of the n-token span
    starting at 0-based position i (whole-text fallback for 1..n-1
    token docs, empty for empty docs). Zero shuffle; lazily
    localCheckpointed because every caller feeds it to >= 2 consumers
    (the dup_span_stats lifecycle: one corpus pass, blocks released
    with the frame). NULL text coalesces to '' (no tokens, passes
    through as ('', 0, 0)) - without it, size(NULL array) = -1 would
    poison downstream token accounting."""
    toks = F.filter(
        normalized_tokens(F.coalesce(F.col(text_col), F.lit(""))),
        lambda w: F.length(w) > 0,
    )
    base = df.select(F.col(id_col), toks.alias("_toks"))
    size = F.size("_toks")
    zipped = F.arrays_zip(
        F.col("_toks").alias("_t0"),
        *[
            F.slice(F.col("_toks"), i + 1, size).alias(f"_t{i}")
            for i in range(1, n)
        ],
    )
    spans = F.transform(
        zipped,
        lambda x: h60(F.concat_ws(" ", *[x[f"_t{i}"] for i in range(n)])),
    )
    pos_spans = (
        F.when(size >= n, F.slice(spans, 1, size - (n - 1)))
        .when(size >= 1, F.slice(spans, 1, 1))
        .otherwise(F.array().cast("array<long>"))
    )
    return base.select(
        F.col(id_col), F.col("_toks"), pos_spans.alias("_spans")
    ).localCheckpoint(eager=False)


def _excise_spans(
    spanned: DataFrame,
    ex: DataFrame,
    hot: DataFrame,
    *,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared excision tail: semi-join the exploded spans against the
    hot set, collect per-doc removal starts, drop every covered token.
    (id, cleaned text, n_tokens, n_tokens_removed)."""
    return _excise_starts(
        spanned,
        ex.join(hot, "_h", "left_semi"),
        n=n,
        id_col=id_col,
        text_col=text_col,
    )


def _excise_starts(
    spanned: DataFrame,
    removal_ex: DataFrame,
    *,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Excision tail on an explicit removal set: `removal_ex` holds the
    (id, _i) span occurrences to excise - remove-all passes every hot
    occurrence, keep-first passes every hot occurrence EXCEPT each
    span's canonical first. Collect per-doc removal starts, drop every
    covered token."""
    starts = removal_ex.groupBy(id_col).agg(
        F.collect_set("_i").alias("_starts")
    )
    joined = spanned.join(starts, id_col, "left")
    size = F.size("_toks")
    width = F.least(F.lit(n), size)
    starts_arr = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_toks"),
        lambda w, t: ~F.exists(
            starts_arr, lambda p: (t >= p) & (t < p + width)
        ),
    )
    # staged: `kept` appears once, downstream consumers reference the
    # materialized column (no CSE across interpreted higher-order
    # funcs - the measured Catalyst-width lesson)
    staged = joined.select(
        F.col(id_col),
        size.cast("long").alias("n_tokens"),
        kept.alias("_kept"),
    )
    return staged.select(
        F.col(id_col),
        F.concat_ws(" ", F.col("_kept")).alias(text_col),
        "n_tokens",
        (F.col("n_tokens") - F.size("_kept"))
        .cast("long")
        .alias("n_tokens_removed"),
    )


def build_span_index(
    df: DataFrame,
    *,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist: bool = True,
) -> DataFrame:
    """Span document-frequency index of a stored corpus: (shingle, df)
    with df = number of distinct docs containing the h60-hashed n-token
    span - the stored half of incremental span dedup, the analog of
    build_minhash_index. 16 bytes/row, hash-partitioned; at rest this
    is a table a sink writes once and every arriving batch probes."""
    # the corpus pass gets the same gated read-parallelism floor as
    # the delta side (r14): a one-row-group bench corpus is otherwise
    # ONE scan split, so the interpreted h60 span hashing ran
    # single-threaded (measured 2.0 s in one task); multi-file corpora
    # keep their natural layout - no new exchange
    idx = (
        shingles_exploded(_batch_min_splits(df), n=n, hashed=True,
                          id_col=id_col, text_col=text_col)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return idx.localCheckpoint(eager=True) if persist else idx


def _size_conf_bytes(value: str, default: int = 128 << 20) -> int:
    """Spark size-conf string -> bytes. Handles the suffixed forms the
    conf accepts ('128m', '1g', '64k', '134217728b', bare ints; case-
    insensitive). The pre-r15 parser stripped 'b' and int()'d the rest,
    so a deployment setting '128m' parsed as 128 BYTES - overestimating
    splits and silently disabling the read-parallelism floor (r14
    verdict #6 / advice #1). Unparseable values fall back to Spark's
    default, the fail-safe direction (no unnecessary shuffle)."""
    import re as _re

    m = _re.fullmatch(
        r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(value), _re.IGNORECASE
    )
    if not m:
        return default
    mult = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}[
        m.group(2).lower()
    ]
    return int(m.group(1)) << mult


def _batch_min_splits(
    batch: DataFrame, min_splits: int | None = None
) -> DataFrame:
    """Floor on a delta-lane batch's read parallelism (r13 verdict #2).
    The delta lanes' CONTRACT is small incremental batches, and those
    are NORMALLY one small parquet file => one scan split => every
    narrow stage downstream inherits parallelism 1 (measured:
    dup_span_removal_delta 24.1 -> 13.6 s at the 10x probe with a
    manual repartition(64), SCALE.md). When the batch scan reads fewer
    files than cores/4, repartition to `min_splits` (default: cores) -
    a shuffle bounded by the BATCH size, the cheap side by contract.
    Multi-file inputs and non-file frames (in-memory, checkpointed -
    inputFiles() empty or unavailable) keep their natural layout: no
    new exchange in the plan."""
    try:
        files = batch.inputFiles()
    except Exception:  # noqa: BLE001 - non-file frames keep their plan
        return batch
    sess = batch.sparkSession
    cores = sess.sparkContext.defaultParallelism
    if not files:
        return batch
    # Gate on estimated SCAN SPLITS, not bare file count (r14 review):
    # a corpus stored as a few LARGE parquet files already splits into
    # many natural maxPartitionBytes tasks, and repartitioning it would
    # shuffle the whole corpus for nothing. Files whose size cannot be
    # statted (remote paths) count as one split each - the pre-r14
    # behavior for exactly those inputs.
    import os
    from urllib.parse import urlparse

    max_pb = _size_conf_bytes(
        sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    threshold = max(1, cores // 4)
    # every file is at least one split, so a file count at threshold
    # decides the gate without statting anything (r14 advice: the
    # driver-side getsize loop should not scale with corpus file count)
    if len(files) >= threshold:
        return batch
    splits = 0
    for f in files:
        p = urlparse(f)
        path = p.path if p.scheme in ("", "file") else None
        try:
            size = os.path.getsize(path) if path else None
        except OSError:
            size = None
        splits += max(1, -(-size // max_pb)) if size else 1
        if splits >= threshold:
            return batch
    return batch.repartition(min_splits or cores)


def remove_duplicated_spans_delta(
    batch: DataFrame,
    span_index: DataFrame,
    *,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental duplicated-span removal: clean an ARRIVING batch
    against a stored corpus span index without re-scanning the corpus -
    the minhash_delta_pairs discipline applied to the Lee et al.
    remediation. A span is hot when its batch document frequency plus
    its indexed corpus frequency reaches `min_df`, so the result equals
    running remove_duplicated_spans over corpus UNION batch and keeping
    the batch rows (pytest-pinned). Per-arrival cost is O(batch spans)
    plus one probe join into the 16-byte-keyed index - never O(corpus).
    """
    batch = _batch_min_splits(batch)
    spanned = _positioned_spans(
        batch, n=n, id_col=id_col, text_col=text_col
    )
    ex = spanned.select(
        F.col(id_col), F.posexplode("_spans").alias("_i", "_h")
    )
    # one batch-mass exchange (r15): HashPartitioning(_h) satisfies
    # the dedup, the frequency aggregate AND the index probe join key
    batch_df = (
        ex.select(id_col, "_h")
        .repartition(F.col("_h"))
        .dropDuplicates([id_col, "_h"])
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_bdf"))
    )
    hot = (
        batch_df.join(
            span_index.select(
                F.col("shingle").alias("_h"), F.col("df").alias("_cdf")
            ),
            "_h",
            "left",
        )
        .where(
            F.col("_bdf") + F.coalesce(F.col("_cdf"), F.lit(0))
            >= F.lit(min_df)
        )
        .select("_h")
    )
    return _excise_spans(
        spanned, ex, hot, n=n, id_col=id_col, text_col=text_col
    )


def minhash_lane_constants(num_hashes: int = 32):
    """The fixed affine MinHash family (a_i, b_i), seeded so Spark and
    any oracle engine derive the identical lanes. Returned as numpy
    uint64 arrays; oracle SQL embeds the same integers literally."""
    rng = np.random.RandomState(0x5EED)
    a_lane = (
        rng.randint(0, 2**63, size=num_hashes, dtype=np.uint64) * 2 + 1
    )  # odd multipliers -> bijective mod 2^k
    b_lane = rng.randint(0, 2**63, size=num_hashes, dtype=np.uint64)
    return a_lane, b_lane


def minhash_signature(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: per-doc hashed shingle set (JVM-side, zero
    shuffle), then one Arrow pandas UDF computes all k per-lane minima
    vectorized in numpy. Lane i applies a fixed affine mix
    ``(a_i * h + b_i) mod 2^60`` to the h60 shingle hash - a standard
    MinHash family, deterministic across runs AND engines: because
    2^60 divides 2^64, numpy's wrapping uint64 product masked to 60
    bits equals the exact (a*h + b) mod 2^60 an oracle computes in
    128-bit arithmetic, so signatures are value-checkable in SQL.

    shingle_sets, if given, is a precomputed (id_col, sh: array<long>)
    frame of h60-hashed shingle sets - pass the corpus-cached build so
    the interpreted shingle transform runs once per corpus instead of
    once per consumer (the r02 minhash_neardup regression was exactly
    this rebuild).

    Why not k aggregate columns (the previous form): a k-wide
    min-aggregate is a k-branch codegen method evaluated per exploded
    shingle row - measured ~5s at sf0.1 vs ~0.5s for the Arrow batch
    (the same Catalyst-width lesson as text_stats/kmeans: expression
    trees that scale with k belong in one vectorized batch, not k
    columns). Shuffle count drops from one (groupBy id) to zero."""
    a_lane, b_lane = minhash_lane_constants(num_hashes)
    mask60 = np.uint64((1 << 60) - 1)

    @pandas_udf("array<long>")
    def _lane_mins(sh: pd.Series) -> pd.Series:
        err = np.seterr(over="ignore")
        try:
            out = []
            for arr in sh:
                h = np.asarray(arr, dtype=np.int64).view(np.uint64)
                lanes = (h[:, None] * a_lane[None, :] + b_lane[None, :]) & mask60
                out.append(lanes.min(axis=0).view(np.int64))
            return pd.Series(out)
        finally:
            np.seterr(**err)

    if shingle_sets is None:
        shingle_sets = df.select(
            F.col(id_col),
            shingle_array(F.col(text_col), n=shingle_n, hashed=True).alias(
                "sh"
            ),
        )
    sets = shingle_sets.where(F.size("sh") > 0)
    return sets.select(
        F.col(id_col), _lane_mins(F.col("sh")).alias("signature")
    )


def band_signature(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """Signature frame -> exploded (id, band_id, band_hash) band-bucket
    rows. THE single derivation both the self-join path and the stored
    incremental index use - band compatibility across time (a batch
    indexed today colliding correctly with a corpus indexed last month)
    depends on this function never forking.

    Band bucket = h60 of the comma-joined lane values: both engines
    format int64 as plain decimal, so the bucket ids (not just the
    resulting pairs) are cross-checkable."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    h60(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("signature")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become a candidate pair.
    The self-join runs on (band_id, band_hash) - only colliding buckets
    produce work, so the n^2 pair space is never enumerated."""
    banded = band_signature(
        signatures, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs with
    jaccard >= threshold. Shingle sets are hashed-long arrays built
    per row with zero shuffles (shingle_array); array_intersect/union
    on longs stays JVM-side. Pass shingle_sets (id_col, sh:
    array<long>) to reuse a corpus-cached build."""
    sets = shingle_sets
    if sets is None:
        sets = df.select(
            F.col(id_col),
            shingle_array(F.col(text_col), n=shingle_n, hashed=True).alias(
                "sh"
            ),
        )
    sets = sets.select(id_col, "sh")
    out = (
        pairs.join(sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .drop("sh_a", "sh_b")
    )
    return out.where(F.col("jaccard") >= threshold)


def minhash_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> banded
    candidates -> exact-Jaccard verify >= threshold. shingle_sets, if
    given, feeds BOTH the signature and verify stages - one shingle
    build per corpus instead of two per query."""
    rows_per_band = num_hashes // bands
    # lazy localCheckpoint: the LSH band self-join scans the signature
    # frame twice with no exchange to reuse (same rationale and
    # lifecycle note as simhash_neardup_pairs)
    sig = minhash_signature(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        shingle_n=shingle_n, shingle_sets=shingle_sets,
    ).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        sig, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    return jaccard_verify(
        cand, df, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        threshold=threshold, shingle_sets=shingle_sets,
    )


def simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """SimHash fingerprint: majority vote per bit over token hashes.

    Token hashes stay JVM-side (h60 inside a transform lambda, so the
    fingerprint is value-checkable in oracle SQL - 60 bit-vote terms
    over the identical md5-derived token hashes); the majority vote
    runs in one Arrow pandas UDF - unpack the per-token hashes to a
    bit matrix, column-sum, threshold at n/2. Bit b of the result is 1
    iff strictly more than half the token hashes set bit b - exactly
    `2*popcount_b > n`, matching the classic sum(+1/-1) > 0 vote, so
    fingerprints are bit-identical to the aggregate form. 60 bits keep
    the fingerprint strictly positive in an int64 on both engines (no
    sign-bit reinterpretation anywhere).

    Why not a bit-wide conditional-sum groupBy (the previous form):
    64 branchy agg exprs per exploded token row compile into one huge
    codegen method (JIT bails out past 8KB bytecode) and measured ~8s
    at sf0.1; the Arrow vote is ~0.5s and needs no shuffle at all -
    the per-doc token set never leaves its input partition."""
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.uint64)

    @pandas_udf("long")
    def _vote(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            ones = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).sum(
                axis=0, dtype=np.int64
            )
            maj = (2 * ones > len(h)).astype(np.uint64)
            out[i] = int((maj * weights).sum(dtype=np.uint64))
        return pd.Series(out)

    toks = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(normalized_tokens(F.col(text_col))),
            lambda t: h60(t),
        ).alias("_h"),
    ).where(F.size("_h") > 0)
    return toks.select(F.col(id_col), _vote(F.col("_h")).alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 60,
) -> DataFrame:
    """SimHash near-dup: band the fingerprint into `bands` chunks;
    pairs sharing any chunk (pigeonhole guarantee for hamming <= bands-1)
    are verified with an exact popcount distance.

    The fingerprint frame is materialized (lazy localCheckpoint)
    before the band self-join: the join's broadcast side carries no
    exchange, so without materialization BOTH sides recompute the
    token-hash transform and the Arrow vote (measured 4.6s -> 2.9s at
    sf0.1). localCheckpoint, not persist: blocks release when the
    frame is GC'd instead of accumulating CacheManager entries across
    repeated calls. Fingerprints are id + 8 bytes - linear, the table
    you'd write to storage at 100 TB."""
    sh = simhash(
        df, id_col=id_col, text_col=text_col, bits=bits
    ).localCheckpoint(eager=False)
    width = bits // bands
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(bands)
        ]
    )
    banded = sh.select(
        F.col(id_col), F.col("simhash"), F.posexplode(chunks).alias("band", "chunk")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def stop_shingle_filter(
    inverted: DataFrame,
    *,
    shingle_col: str = "shingle",
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Drop boilerplate shingles from an inverted index before the
    pair join - the standard skew mitigation for near-dup at corpus
    scale. A shingle appearing in d documents contributes O(d^2)
    candidate pairs; a single boilerplate fragment (license header,
    navigation chrome) shared by 1M documents would alone emit 5x10^11
    pairs and one monster reducer. Capping document frequency bounds
    per-shingle pair fan-out at max_doc_freq^2 and removes exactly the
    shingles with no discriminative value (the same reasoning as IDF).

    Cost: one aggregate over the index (shuffle on the shingle key -
    the partitioning the downstream pair join needs anyway) and a
    semi-join back. Semantics: Jaccard/containment computed AFTER the
    cap are approximations that ignore boilerplate overlap - usually
    the wanted behavior; keep the uncapped path for oracle checks.
    """
    hot = (
        inverted.groupBy(shingle_col)
        .count()
        .where(F.col("count") > max_doc_freq)
        .select(shingle_col)
    )
    return inverted.join(F.broadcast(hot), shingle_col, "left_anti")


def build_minhash_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 8,
    persist: bool = True,
    shingle_sets: DataFrame | None = None,
):
    """Materialize the corpus-side MinHash index an INCREMENTAL dedup
    consumes: {"bands": (id, band_id, band_hash), "shingles": (id, sh)}.
    At 100 TB these are the two tables you write to storage once and
    re-read per arriving batch, so new data never triggers a
    corpus-wide recompute; band buckets come from band_signature - the
    SAME derivation as the self-join path, so a batch indexed today
    collides correctly with a corpus indexed last month.

    persist=True caches both frames (the corpus side, read every
    batch); persist=False skips CacheManager entirely - the caller
    decides the delta side's materialization (minhash_delta_pairs
    checkpoints it for the call, since the shingle frame feeds BOTH
    the signature build and the jaccard verify).

    shingle_sets, if given, is the precomputed (id_col, sh) frame for
    EXACTLY df's rows - pass a filtered slice of a corpus-cached build
    so the interpreted shingle transform runs once per corpus, not once
    per index (VERDICT r04 #7)."""
    shingles = shingle_sets
    if shingles is None:
        shingles = df.select(
            F.col(id_col),
            shingle_array(F.col(text_col), n=shingle_n, hashed=True).alias(
                "sh"
            ),
        )
    if persist:
        shingles = shingles.persist()
    sig = minhash_signature(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        shingle_n=shingle_n, shingle_sets=shingles,
    )
    banded = band_signature(
        sig, id_col=id_col, bands=bands,
        rows_per_band=num_hashes // bands,
    )
    if persist:
        banded = banded.persist()
    return {"bands": banded, "shingles": shingles}


def minhash_delta_pairs(
    delta: DataFrame,
    index: dict,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup: which corpus docs does each DELTA doc
    duplicate? Only the delta is signed (cost = O(batch)); candidates
    come from an equi-join of delta band buckets against the stored
    index; exact Jaccard verifies candidates using the stored corpus
    shingle sets. Returns (delta_id, corpus_id, jaccard >= threshold).

    This is the production dedup shape at scale: per-batch cost is
    batch-size + collisions, independent of corpus size. shingle_sets:
    precomputed (id_col, sh) for the DELTA rows (see
    build_minhash_index)."""
    delta = _batch_min_splits(delta)
    d_index = build_minhash_index(
        delta, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        shingle_n=shingle_n, bands=bands, persist=False,
        shingle_sets=shingle_sets,
    )
    # The delta shingle frame feeds two stages (signature already
    # consumed it inside build; the verify join below reads it again)
    # and the band frame feeds the candidate join: checkpoint lazily -
    # materialized once on first use, NOT CacheManager-tracked, blocks
    # released when the per-batch frames are GC'd (no cross-batch leak).
    d_index = {
        name: frame.localCheckpoint(eager=False)
        for name, frame in d_index.items()
    }
    cand = (
        d_index["bands"]
        .select(
            F.col(id_col).alias("delta_id"), "band_id", "band_hash"
        )
        .join(
            index["bands"].select(
                F.col(id_col).alias("corpus_id"), "band_id", "band_hash"
            ),
            ["band_id", "band_hash"],
        )
        .select("delta_id", "corpus_id")
        .distinct()
    )
    jac = (
        cand.join(
            d_index["shingles"].select(
                F.col(id_col).alias("delta_id"), F.col("sh").alias("sh_d")
            ),
            "delta_id",
        )
        .join(
            index["shingles"].select(
                F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_c")
            ),
            "corpus_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_d", "sh_c"))
            / F.size(F.array_union("sh_d", "sh_c")),
        )
        .drop("sh_d", "sh_c")
    )
    return jac.where(F.col("jaccard") >= threshold)


def _rebuild_without_lines(
    base: DataFrame,
    drops: DataFrame,
    *,
    id_col: str,
    text_col: str,
    joiner: str,
) -> DataFrame:
    """Shared reconstruction tail of line dedup (full + delta): left
    join per-doc drop positions back on the doc key and rebuild the
    text with those positions filtered out via a pure higher-order
    expression. The TEXT never enters the hash shuffle - only (id,
    pos, 8-byte hash) rows moved in the dedup stages; the single
    doc-keyed join here is the only exchange the full lines ride (the
    remove_duplicated_spans discipline)."""
    j = base.join(drops, id_col, "left").select(
        F.col(id_col),
        "_lines",
        F.coalesce(
            "_drops", F.array().cast("array<integer>")
        ).alias("_drops"),
    )
    kept = F.filter(
        F.col("_lines"),
        lambda x, i: ~F.exists(F.col("_drops"), lambda d: d == i),
    )
    return j.select(
        F.col(id_col),
        F.array_join(kept, joiner).alias(text_col),
        F.size("_lines").cast("long").alias("n_lines"),
        F.size("_drops").cast("long").alias("n_lines_removed"),
    )


def _positioned_lines(
    df: DataFrame, *, id_col: str, text_col: str, sep: str
):
    """(base, part_rows) for line dedup: base = (id, _lines array) -
    a zero-shuffle projection; part_rows = (id, _p, _h) for every
    PARTICIPATING line (whitespace-only lines never join the dedup -
    they are layout, not content - and pass through untouched).

    base feeds TWO consumers (the hash explode and the rebuild join),
    so its lineage is lazily checkpointed - without the cut Spark
    re-executes the split (and any caller-side layout projection
    upstream of it) once per branch; the scan-parallelism floor keeps
    a small single-file corpus from running the whole split+md5 chain
    in one task (the ngram_contamination lesson)."""
    from .textstats import scan_parallelism_floor

    parts = F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
    base = (
        scan_parallelism_floor(df)
        .select(F.col(id_col), parts.alias("_lines"))
        .localCheckpoint(eager=False)
    )
    ex = base.select(
        F.col(id_col), F.posexplode("_lines").alias("_p", "_line")
    )
    part_rows = ex.where(F.trim(F.col("_line")) != "").select(
        F.col(id_col), "_p", h60(F.col("_line")).alias("_h")
    )
    return base, part_rows


def dedup_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    joiner: str | None = None,
) -> DataFrame:
    """Corpus-wide line-level deduplication, CCNet-style (Wenzek et
    al. 2020: web corpora are cleaned by dropping duplicate lines/
    paragraphs ACROSS the whole corpus before any document-level
    dedup runs - boilerplate headers, nav bars and licence blocks
    repeat verbatim across millions of pages). Every occurrence of a
    line except the FIRST (ordered by (doc id, line position)) is
    removed; the first copy survives, so no content is lost, and doc
    text is rebuilt from its surviving lines. The cheaper first-pass
    sibling of remove_duplicated_spans: line identity is exact (one
    h60 per line), no token windows.

    `sep` is a Java regex for F.split; `joiner` (default: `sep`
    verbatim) rebuilds the text, so pass both when sep is a
    non-literal pattern. Whitespace-only lines are layout, not
    content: they never participate and always survive.

    Output: (id_col, text, n_lines, n_lines_removed), one row per
    input row.

    Scale shape: only (id, pos, 8-byte hash) rows enter the dedup -
    the first-occurrence aggregate is one hash-keyed groupBy with
    map-side combine (a corpus-wide boilerplate line collapses to one
    row per map task before the exchange, so hot lines cannot skew
    the shuffle), duplicated hashes filter to a (hash -> first) table
    joined back hash-keyed, and drop POSITIONS come home on the doc
    key. Full text rides exactly one doc-keyed join, never the hash
    shuffle. Cost tracks corpus lines, never line-pairs."""
    base, part_rows = _positioned_lines(
        df, id_col=id_col, text_col=text_col, sep=sep
    )
    firsts = part_rows.groupBy("_h").agg(
        F.min(
            F.struct(F.col(id_col).alias("_d"), F.col("_p").alias("_q"))
        ).alias("_first"),
        F.count(F.lit(1)).alias("_n"),
    ).where(F.col("_n") >= 2)
    drops = (
        part_rows.join(firsts, "_h")
        .where(
            (F.col(id_col) != F.col("_first._d"))
            | (F.col("_p") != F.col("_first._q"))
        )
        .groupBy(id_col)
        .agg(F.collect_list("_p").alias("_drops"))
    )
    return _rebuild_without_lines(
        base, drops, id_col=id_col, text_col=text_col,
        joiner=sep if joiner is None else joiner,
    )


def build_line_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    persist: bool = True,
) -> DataFrame:
    """Line-membership index of a stored corpus: one (line_h) row per
    DISTINCT participating line hash - the stored half of incremental
    line dedup (the build_span_index discipline, membership instead
    of df counts: keep-first only needs to know a line already exists
    somewhere earlier). 8 bytes/row at rest."""
    # same gated corpus-pass parallelism floor as build_span_index (r14)
    _base, part_rows = _positioned_lines(
        _batch_min_splits(df), id_col=id_col, text_col=text_col, sep=sep
    )
    idx = part_rows.select(F.col("_h").alias("line_h")).distinct()
    return idx.localCheckpoint(eager=True) if persist else idx


def dedup_lines_delta(
    batch: DataFrame,
    line_index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    joiner: str | None = None,
) -> DataFrame:
    """Incremental line dedup: clean an ARRIVING batch against a
    stored corpus line index without re-scanning the corpus. A batch
    line is dropped when its hash is already in the index (the corpus
    holds an earlier copy - every stored occurrence precedes every
    arriving one) OR when an earlier batch position holds the same
    line; so with corpus ids ordered before batch ids the result
    equals running dedup_lines over corpus UNION batch and keeping
    the batch rows (pytest-pinned, the remove_duplicated_spans_delta
    contract). Per-arrival cost is O(batch lines) plus one probe join
    into the 8-byte index - never O(corpus)."""
    batch = _batch_min_splits(batch)
    base, part_rows = _positioned_lines(
        batch, id_col=id_col, text_col=text_col, sep=sep
    )
    in_index = line_index.select(F.col("line_h").alias("_h")).withColumn(
        "_stored", F.lit(True)
    )
    firsts = part_rows.groupBy("_h").agg(
        F.min(
            F.struct(F.col(id_col).alias("_d"), F.col("_p").alias("_q"))
        ).alias("_first")
    )
    drops = (
        part_rows.join(in_index, "_h", "left")
        .join(firsts, "_h")
        .where(
            F.coalesce(F.col("_stored"), F.lit(False))
            | (F.col(id_col) != F.col("_first._d"))
            | (F.col("_p") != F.col("_first._q"))
        )
        .groupBy(id_col)
        .agg(F.collect_list("_p").alias("_drops"))
    )
    return _rebuild_without_lines(
        base, drops, id_col=id_col, text_col=text_col,
        joiner=sep if joiner is None else joiner,
    )


def minhash_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    eval_id: str = "eval_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
    train_shingle_sets: DataFrame | None = None,
    eval_shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """FUZZY train/eval decontamination: training docs whose shingle
    Jaccard vs ANY benchmark doc reaches `threshold`, found by MinHash
    + LSH banding - the near-duplicate complement of the exact n-gram
    overlap report (ngram_contamination). Paraphrased or
    lightly-edited benchmark leaks share most shingles but not
    necessarily any verbatim n-gram window at the same cut points; the
    Jaccard test catches those.

    Output: (id_col, eval_id, jaccard) for every contaminated
    (train doc, eval doc) pair, exact-Jaccard verified.

    Scale shape: the ASYMMETRY is the point - eval suites are MBs, so
    the eval side's band table and shingle sets both BROADCAST; the
    corpus side is the same zero-shuffle signature projection the
    near-dup path uses, pruned by the band equi-join before any
    verification. No self-join, no corpus-corpus pair ever forms; cost
    is one corpus signature pass + candidate-sized verify."""
    rows_per_band = num_hashes // bands
    sig_t = minhash_signature(
        train, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
        shingle_sets=train_shingle_sets,
    )
    sig_e = minhash_signature(
        eval_df, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
        shingle_sets=eval_shingle_sets,
    )
    bt = band_signature(
        sig_t, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    be = band_signature(
        sig_e, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    ).withColumnRenamed(id_col, eval_id)
    cand = (
        bt.join(F.broadcast(be), ["band_id", "band_hash"])
        .select(id_col, eval_id)
        .distinct()
    )
    tsets = train_shingle_sets
    if tsets is None:
        tsets = train.select(
            F.col(id_col),
            shingle_array(F.col(text_col), n=shingle_n, hashed=True).alias("sh"),
        )
    esets = eval_shingle_sets
    if esets is None:
        esets = eval_df.select(
            F.col(id_col),
            shingle_array(F.col(text_col), n=shingle_n, hashed=True).alias("sh"),
        )
    esets = esets.select(
        F.col(id_col).alias(eval_id), F.col("sh").alias("sh_e")
    )
    return (
        cand.join(tsets.select(id_col, "sh"), id_col)
        .join(F.broadcast(esets), eval_id)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh", "sh_e"))
            / F.size(F.array_union("sh", "sh_e")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(id_col, eval_id, "jaccard")
    )


def _suffix_token_hashes(text_col: str) -> Column:
    """The family's ONE tokenize-and-hash expression (trim -> lower ->
    whitespace split -> drop empties -> salted h60 per token), shared
    by suffix_block_frames and the broadcast eval index so merged and
    probed LCPs can never drift (a tokenizer tweak applied to one
    copy but not the other would silently desync them)."""
    toks_arr = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )
    return F.transform(
        toks_arr, lambda t: h60(F.concat(F.lit("S:"), t))
    )


def _suffix_run_geometry(blk, mat, lens, prev0_blk, prev0_ck):
    """Shared vectorized run detection for the chunked suffix scans:
    given a partition's sorted member rows (parent block ids, padded
    chunk matrix, chunk lengths) plus the previous partition's last
    key, returns (key_start bool array, lcp-vs-previous-row int
    array). Pads with -1, which never equals an h60 token hash, so
    length mismatches surface as the first unequal column."""
    import numpy as np

    n = len(blk)
    prev_mat = np.empty_like(mat)
    prev_mat[1:] = mat[:-1]
    prev_mat[0, :] = -1
    if prev0_ck is not None:
        prev_mat[0, : len(prev0_ck)] = prev0_ck
    aug = np.hstack([mat == prev_mat, np.zeros((n, 1), dtype=bool)])
    lcp = np.argmin(aug, axis=1)
    prev_blk = np.empty(n, dtype=np.int64)
    prev_blk[1:] = blk[:-1]
    prev_blk[0] = prev0_blk if prev0_blk is not None else blk[0] - 1
    prev_len = np.empty(n, dtype=np.int64)
    prev_len[1:] = lens[:-1]
    prev_len[0] = len(prev0_ck) if prev0_ck is not None else -1
    same_key = (blk == prev_blk) & (lens == prev_len) & (lcp >= lens)
    return ~same_key, lcp


def _suffix_ck_matrix(cks, width_floor=1):
    """Pack a list of int chunk arrays into a -1-padded int64 matrix;
    returns (matrix, lengths)."""
    import numpy as np

    n = len(cks)
    lens = np.fromiter((len(c) for c in cks), dtype=np.int64, count=n)
    width = max(int(lens.max()) if n else 0, width_floor)
    mat = np.full((n, width), -1, dtype=np.int64)
    total = int(lens.sum())
    if total:
        flat = np.concatenate(
            [np.asarray(c, dtype=np.int64) for c in cks if len(c)]
        )
        excl = np.cumsum(lens) - lens
        row_idx = np.repeat(np.arange(n), lens)
        col_idx = np.arange(total) - np.repeat(excl, lens)
        mat[row_idx, col_idx] = flat
    return mat, lens


# Level-1 chunk width of suffix_block_frames: every suffix enters the
# first sort carrying only its first _SUFFIX_W token hashes; later
# levels grow the width geometrically (8x per level, capped at 4096).
_SUFFIX_W = 8


def suffix_block_frames(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    side=0,
) -> dict:
    """Bounded-prefix (chunked) suffix ordering - the family's one
    suffix-array construction. Instead of materializing every suffix
    as its whole token slice (~L/2-fold amplification of the token
    stream), this machinery sorts FIXED-WIDTH chunks and refines only
    tied runs, so no suffix slice ever enters a shuffle:

      level 1: every suffix carries only its first w = _SUFFIX_W
        token hashes; ONE range-sort of those member rows puts equal
        keys adjacent, and
        a partition-local Arrow scan (with a one-row-per-partition
        driver fix-up for runs/parents straddling partition bounds -
        the two-pass discipline) assigns each run of equal keys its
        global range start, member count, eval flag and boundary LCP
        against the previous sibling run. Runs of size 1 are RESOLVED
        (their order and both neighbor LCPs are exact); runs whose
        key is shorter than the width are resolved IDENTICAL-suffix
        groups (equal short keys + equal prior prefix = equal
        suffixes, so dup_len = member length with no further work -
        the mirror-crawl/dupheavy mass collapses here instead of
        riding the sort).
      level k: only members of surviving runs (>= 2 members, full-
        width key - i.e. positions whose duplicated run reaches the
        cumulative offset) continue, comparing the next chunk with
        GEOMETRICALLY growing width (w, 8w, 64w, ... capped at 4096 -
        the Manber-Myers round structure on an MSD-radix plan), so
        the level count is O(log max_doc_len) - 2-3 levels for a
        100-token corpus - and each level's mass is the surviving dup
        mass only. Survivors fetch their remainder once after level 1
        (AQE-planned join against the token-hash docs) and carry a
        shrinking tail thereafter - clean corpora never pay it.

    Every adjacent pair of FINAL blocks diverged at exactly one
    level, between two adjacent sibling runs whose chunk values give
    their exact LCP (cumulative offset + first chunk mismatch); those
    boundary records are emitted at split time keyed by the global
    position they separate, so the neighbor-LCP array exists WITHOUT
    any slice-carrying neighbor join. ONE job and ONE member-mass
    shuffle per level (the summary collect materializes the lazily-
    checkpointed sort; members, blocks, boundaries and survivors all
    read the same scanned frame); no global window, no corpus-sized
    collect anywhere.

    `side` tags every row: 0 = train/corpus, 1 = eval; an int or a
    per-row Column. The tag is what lets ONE merged ordering serve
    both the dup-length and the eval-overlap derivations.

    PRECONDITIONS: `id_col` values must be UNIQUE across `df`, sides
    included - the survivors' remainder fetch joins on the id alone,
    so a repeated id would fan out into another document's tokens (a
    caller with repeatable ids must dropDuplicates or salt first).
    Frames whose suffixes will be compared (train vs eval) must be
    side-tagged and ordered in ONE call: block ids are positions in
    one call's order and mean nothing across calls.

    Returns {"blocks": (bid, _m, _he, tie_len, lcp_prev, lcp_next) -
    one row per distinct-suffix group, bid = global range start (a
    total order key), tie_len = member length for identical groups,
    lcp_prev/next = exact LCP with the neighboring group;
    "members": (bid, id, pos, _side) - every suffix position}.
    Derivations: suffix_dup_lengths_from_blocks /
    suffix_eval_overlap_from_blocks."""
    import numpy as np  # noqa: F401 - workers import inside closures
    import pandas as pd  # noqa: F401

    spark = df.sparkSession
    w = _SUFFIX_W
    # RAW h60 token hashes, no dictionary ranking: chunks amplify the
    # token stream only w-fold, so a dense-rank rebuild (a corpus-wide
    # explode+join+groupBy shuffle plus a vocabulary ranking) would
    # cost more than the 4 bytes/token it saves. LCP is
    # hash/permutation-invariant; -1 padding stays safe (h60 is
    # non-negative).
    side_col = side if isinstance(side, Column) else F.lit(side)
    docs = df.select(
        F.col(id_col),
        side_col.alias("_side"),
        _suffix_token_hashes(text_col).alias("_h"),
    ).where(F.size("_h") > 0)
    # lazy: the level-1 summary job below is what materializes it
    docs = docs.withColumn("_n", F.size("_h")).localCheckpoint(
        eager=False
    )

    # level-1 candidates: the w-hash chunk is materialized inside the
    # explode projection - the full slice never exists anywhere
    live = (
        docs.select(
            F.col(id_col),
            "_side",
            F.col("_n"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("_n")),
                    lambda i: F.struct(
                        (i - F.lit(1)).cast("int").alias("pos"),
                        F.slice("_h", i, w).alias("ck"),
                    ),
                )
            ).alias("_e"),
        )
        .select(
            id_col,
            "_side",
            F.col("_e.pos").alias("pos"),
            (F.col("_n") - F.col("_e.pos")).cast("int").alias("slen"),
            F.lit(0).cast("long").alias("_blk"),
            F.col("_e.ck").alias("_ck"),
            F.array().cast("array<bigint>").alias("_rem"),
        )
    )
    id_t = {
        f.name: f.dataType.simpleString() for f in df.schema.fields
    }[id_col]
    out_schema = (
        f"`{id_col}` {id_t}, pos int, _side int, slen int, "
        "_rem array<bigint>, bid long, srv int, is_start int, _m long, "
        "_he int, _clen int, _bnd long"
    )
    summ_schema = (
        "_pid int, n long, nruns long, first_blk long, last_blk long,"
        " first_ck array<bigint>, last_ck array<bigint>, first_cnt long,"
        " first_he int, last_cnt long, last_he int,"
        " tail_parent_mass long, mid_surv long, mid_surv_mass long"
    )
    # EXPLICIT partition count everywhere: AQE would coalesce the
    # default range shuffle to ~1 partition at small sizes,
    # serializing the Arrow scans (measured 20 s at sf0.1);
    # user-specified repartitions are exempt from coalescing.
    nparts = max(spark.sparkContext.defaultParallelism, 2)

    members_parts: list = []
    blocks_parts: list = []
    bnd_parts: list = []
    offset, cw, lvl = 0, w, 1
    lvl_parts = nparts
    while True:
        srt = (
            live.repartitionByRange(lvl_parts, "_blk", "_ck")
            .sortWithinPartitions("_blk", "_ck")
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint(eager=False)
        )

        # pass A: one summary row per partition, collected driver-side
        # (dimension-sized - the two-pass discipline)
        def _summarize(it, _cw=cw):
            import numpy as _np
            import pandas as _pd

            parts = [pdf for pdf in it if len(pdf) > 0]
            if not parts:
                return
            pdf = _pd.concat(parts, ignore_index=True)
            pid = int(pdf["_pid"].iloc[0])
            blk = pdf["_blk"].to_numpy()
            sd = pdf["_side"].to_numpy()
            mat, lens = _suffix_ck_matrix(list(pdf["_ck"]))
            key_start, _ = _suffix_run_geometry(
                blk, mat, lens, None, None
            )
            key_start[0] = True
            starts = _np.flatnonzero(key_start)
            n = len(blk)
            bounds = _np.append(starts, n)
            counts = _np.diff(bounds)
            he = _np.array(
                [
                    int((sd[a:b] == 1).any())
                    for a, b in zip(bounds[:-1], bounds[1:])
                ],
                dtype=_np.int64,
            )
            clens = lens[starts]
            if len(starts) > 2:
                midmask = (counts[1:-1] >= 2) & (clens[1:-1] == _cw)
                mid = int(midmask.sum())
                midmass = int(counts[1:-1][midmask].sum())
            else:
                mid, midmass = 0, 0
            tail_parent = int(
                n
                - (
                    _np.flatnonzero(blk != blk[-1])[-1] + 1
                    if (blk != blk[-1]).any()
                    else 0
                )
            )
            yield _pd.DataFrame(
                {
                    "_pid": [pid],
                    "n": [int(n)],
                    "nruns": [int(len(starts))],
                    "first_blk": [int(blk[0])],
                    "last_blk": [int(blk[-1])],
                    "first_ck": [[int(x) for x in pdf["_ck"].iloc[0]]],
                    "last_ck": [[int(x) for x in pdf["_ck"].iloc[-1]]],
                    "first_cnt": [int(counts[0])],
                    "first_he": [int(he[0])],
                    "last_cnt": [int(counts[-1])],
                    "last_he": [int(he[-1])],
                    "tail_parent_mass": [tail_parent],
                    "mid_surv": [mid],
                    "mid_surv_mass": [midmass],
                }
            )

        summ = {
            r["_pid"]: r
            for r in srt.select("_pid", "_blk", "_side", "_ck")
            .mapInPandas(_summarize, summ_schema)
            .collect()
        }
        pids = sorted(summ)

        # driver fix-ups: straddling runs/parents across partitions.
        # backward pass - rows of the partition-head run living in
        # LATER partitions (so the start partition can emit final
        # m/he for its trailing run)
        after_m: dict = {}
        after_he: dict = {}
        carry_key, carry_m, carry_he = None, 0, 0
        for p in reversed(pids):
            r = summ[p]
            k_last = (r["last_blk"], tuple(r["last_ck"]))
            if carry_key is not None and carry_key == k_last:
                after_m[p], after_he[p] = carry_m, carry_he
            else:
                after_m[p], after_he[p] = 0, 0
            if r["nruns"] == 1:
                head_m = r["n"] + after_m[p]
                head_he = max(r["first_he"], after_he[p])
            else:
                head_m, head_he = r["first_cnt"], r["first_he"]
            carry_key = (r["first_blk"], tuple(r["first_ck"]))
            carry_m, carry_he = head_m, head_he
        # forward pass - the open trailing group chain + parent mass
        ent: dict = {}
        ext: dict = {}
        run_blk, run_mass = None, 0
        g_key, g_bid, g_m, g_he = None, 0, 0, 0
        prev_blk, prev_ck = None, None
        n_surv = sum(r["mid_surv"] for r in summ.values())
        surv_mass = sum(r["mid_surv_mass"] for r in summ.values())
        for p in pids:
            r = summ[p]
            k_first = (r["first_blk"], tuple(r["first_ck"]))
            cont = g_key is not None and g_key == k_first
            ent[p] = {
                "cont": cont,
                "bid": g_bid if cont else 0,
                "m_before": g_m if cont else 0,
                "he_before": g_he if cont else 0,
                "psib": run_mass if run_blk == r["first_blk"] else 0,
                "prev_blk": prev_blk,
                "prev_ck": prev_ck,
            }
            ext[p] = {"after_m": after_m[p], "after_he": after_he[p]}
            entering = run_mass if run_blk == r["last_blk"] else 0
            last_bid = (
                r["last_blk"]
                + entering
                + r["tail_parent_mass"]
                - r["last_cnt"]
            )
            last_is_cont = cont and r["nruns"] == 1
            if not last_is_cont:
                m_fin = r["last_cnt"] + after_m[p]
                if m_fin >= 2 and len(r["last_ck"]) == cw:
                    n_surv += 1
                    surv_mass += m_fin
                g_bid, g_m, g_he = last_bid, r["last_cnt"], r["last_he"]
                g_key = (r["last_blk"], tuple(r["last_ck"]))
            else:
                g_m += r["n"]
                g_he = max(g_he, r["first_he"])
            if (not cont) and r["nruns"] > 1:
                if r["first_cnt"] >= 2 and len(r["first_ck"]) == cw:
                    n_surv += 1
                    surv_mass += r["first_cnt"]
            run_mass = entering + r["tail_parent_mass"]
            run_blk = r["last_blk"]
            prev_blk = r["last_blk"]
            prev_ck = list(r["last_ck"])

        # pass B: full member-grain enrichment - bid, resolution
        # class, run stats + boundary LCP on run-start rows
        def _scan(
            it, _cw=cw, _off=offset, _ent=ent, _ext=ext, _id=id_col
        ):
            import numpy as _np
            import pandas as _pd

            parts = [pdf for pdf in it if len(pdf) > 0]
            if not parts:
                return
            pdf = _pd.concat(parts, ignore_index=True)
            p = int(pdf["_pid"].iloc[0])
            e = _ent.get(p, {})
            x = _ext.get(p, {"after_m": 0, "after_he": 0})
            blk = pdf["_blk"].to_numpy()
            sd = pdf["_side"].to_numpy()
            cks = list(pdf["_ck"])
            pck = (
                _np.asarray(e["prev_ck"], dtype=_np.int64)
                if e.get("prev_ck") is not None
                else None
            )
            mat, lens = _suffix_ck_matrix(
                cks, width_floor=len(pck) if pck is not None else 1
            )
            key_start, lcp = _suffix_run_geometry(
                blk, mat, lens, e.get("prev_blk"), pck
            )
            if e.get("cont"):
                key_start[0] = False
            else:
                key_start[0] = True
            n = len(blk)
            starts = _np.flatnonzero(key_start)
            # run index per row; 0 = the continuing run (no local
            # start) when cont
            rid = _np.cumsum(key_start)
            if not e.get("cont"):
                rid = rid - 1
            nruns = int(rid[-1]) + 1
            # per-run local stats
            r_count = _np.bincount(rid, minlength=nruns).astype(
                _np.int64
            )
            r_he = (
                _np.bincount(
                    rid, weights=(sd == 1), minlength=nruns
                )
                > 0
            ).astype(_np.int64)
            first_rows = _np.zeros(nruns, dtype=_np.int64)
            if e.get("cont"):
                first_rows[1:] = starts
            else:
                first_rows[:] = starts
            r_blk = blk[first_rows]
            r_clen = lens[first_rows]
            r_lcp = lcp[first_rows]
            # final m/he with straddle corrections
            r_m = r_count.copy()
            r_hef = r_he.copy()
            if e.get("cont"):
                r_m[0] += e["m_before"]
                r_hef[0] = max(r_hef[0], e["he_before"])
            r_m[nruns - 1] += x["after_m"]
            r_hef[nruns - 1] = max(r_hef[nruns - 1], x["after_he"])
            # sibling-mass chain -> global range starts
            seg_mass = r_count.copy()
            if e.get("cont"):
                seg_mass[0] += e["m_before"]
            parent_prev = _np.empty(nruns, dtype=_np.int64)
            parent_prev[1:] = r_blk[:-1]
            parent_prev[0] = (
                e["prev_blk"]
                if e.get("prev_blk") is not None
                else r_blk[0] - 1
            )
            p_start = r_blk != parent_prev
            ecs = _np.cumsum(seg_mass) - seg_mass
            segid = _np.cumsum(p_start)
            pstarts = _np.flatnonzero(p_start)
            bases = _np.empty(len(pstarts) + 1, dtype=_np.int64)
            if e.get("cont"):
                seed = e["bid"] - r_blk[0]
            else:
                seed = e.get("psib", 0)
            bases[0] = -seed
            bases[1:] = ecs[pstarts]
            r_bid = r_blk + (ecs - bases[segid])
            if e.get("cont"):
                r_bid[0] = e["bid"]
            # boundary LCP: run starts whose previous row shares the
            # parent block
            r_bnd = _np.full(nruns, -1, dtype=_np.int64)
            has_left = ~p_start
            local_start = _np.ones(nruns, dtype=bool)
            if e.get("cont"):
                local_start[0] = False
            emit_bnd = has_left & local_start
            r_bnd[emit_bnd] = _off + r_lcp[emit_bnd]
            # survivors: full-width keys shared by >= 2 members
            r_srv = ((r_m >= 2) & (r_clen == _cw)).astype(_np.int64)
            out = _pd.DataFrame(
                {
                    _id: pdf[_id].to_numpy(),
                    "pos": pdf["pos"].to_numpy(),
                    "_side": sd,
                    "slen": pdf["slen"].to_numpy(),
                    "_rem": pdf["_rem"],
                    "bid": r_bid[rid],
                    "srv": r_srv[rid],
                    "is_start": _np.where(
                        key_start & local_start[rid].astype(bool), 1, 0
                    ),
                    "_m": r_m[rid],
                    "_he": r_hef[rid],
                    "_clen": r_clen[rid],
                    "_bnd": _np.where(
                        key_start, r_bnd[rid], -1
                    ),
                }
            )
            yield out

        enr = srt.mapInPandas(_scan, out_schema).localCheckpoint(
            eager=False
        )
        resolved_start = (F.col("is_start") == 1) & (
            F.col("srv") == 0
        )
        blocks_parts.append(
            enr.where(resolved_start).select(
                "bid",
                "_m",
                "_he",
                F.when(
                    F.col("_m") >= 2, F.lit(offset) + F.col("_clen")
                )
                .cast("long")
                .alias("tie_len"),
            )
        )
        bnd_parts.append(
            enr.where(F.col("_bnd") >= 0).select(
                (F.col("bid") - 1).alias("endpos"),
                F.col("_bnd").alias("lcp"),
            )
        )
        members_parts.append(
            enr.where(F.col("srv") == 0).select(
                "bid", id_col, "pos", "_side"
            )
        )

        if n_surv == 0:
            break
        nxt = enr.where(F.col("srv") == 1).select(
            id_col,
            "_side",
            "pos",
            "slen",
            F.col("bid").alias("_blk"),
            "_rem",
        )
        if lvl == 1:
            # survivors fetch their remainder ONCE (AQE-planned; the
            # clean-corpus survivor set is the dup mass only)
            nxt = (
                nxt.drop("_rem")
                .join(docs.select(F.col(id_col), "_h"), id_col)
                .withColumn(
                    "_rem",
                    F.slice(
                        "_h",
                        F.col("pos") + 1 + w,
                        F.greatest(F.col("slen") - w, F.lit(0)),
                    ),
                )
                .drop("_h")
            )
        ncw = min(cw * 8, 4096)
        live = nxt.select(
            id_col,
            "_side",
            "pos",
            "slen",
            "_blk",
            F.slice("_rem", 1, ncw).alias("_ck"),
            F.slice(
                "_rem",
                1 + ncw,
                F.greatest(F.size("_rem") - ncw, F.lit(0)),
            ).alias("_rem"),
        )
        offset += cw
        cw = ncw
        lvl += 1
        # later levels carry only the surviving dup mass - size their
        # shuffles to it instead of spawning full-width tiny tasks
        lvl_parts = min(nparts, max(2, surv_mass // 16384 + 1))
        if lvl > 64:  # geometric widths: unreachable except by a bug
            raise RuntimeError("suffix_block_frames failed to converge")

    blocks = blocks_parts[0]
    for part in blocks_parts[1:]:
        blocks = blocks.unionByName(part)
    bnd = bnd_parts[0]
    for part in bnd_parts[1:]:
        bnd = bnd.unionByName(part)
    members = members_parts[0]
    for part in members_parts[1:]:
        members = members.unionByName(part)
    blocks = (
        blocks.withColumn("_bp", F.col("bid") - 1)
        .join(
            bnd.select(
                F.col("endpos").alias("_bp"),
                F.col("lcp").alias("lcp_prev"),
            ),
            "_bp",
            "left",
        )
        .drop("_bp")
        .withColumn("_bn", F.col("bid") + F.col("_m") - 1)
        .join(
            bnd.select(
                F.col("endpos").alias("_bn"),
                F.col("lcp").alias("lcp_next"),
            ),
            "_bn",
            "left",
        )
        .drop("_bn")
    )
    return {
        "blocks": blocks.localCheckpoint(eager=False),
        "members": members.localCheckpoint(eager=False),
    }

def suffix_dup_lengths_from_blocks(
    frames: dict, *, id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, dup_len) derived from suffix_block_frames: identical
    groups (m >= 2) read their member length, singletons take the max
    of the two exact neighbor-group LCPs - no zero-fill join needed
    because every suffix position is a member of exactly one block.
    Side tags are ignored: duplication is corpus-wide, eval rows
    included."""
    val = F.when(F.col("_m") >= 2, F.col("tie_len")).otherwise(
        F.greatest(
            F.coalesce(F.col("lcp_prev"), F.lit(0)),
            F.coalesce(F.col("lcp_next"), F.lit(0)),
        )
    )
    bv = frames["blocks"].select(
        "bid", val.cast("long").alias("dup_len")
    )
    return frames["members"].join(bv, "bid").select(
        F.col(id_col),
        F.col("pos").cast("int").alias("pos"),
        F.col("dup_len"),
    )


def suffix_eval_overlap_from_blocks(
    frames: dict, *, id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, eval_len) per TRAIN position derived from a merged
    side-tagged suffix_block_frames (_he marks groups containing an
    eval suffix): a train suffix's maximal LCP against the whole eval
    set is attained at the nearest eval group in either direction of
    the block order, and LCP across a gap is the RANGE-MIN of the
    boundary LCPs between - so the whole derivation is two running
    min-since-last-eval scans over the slim blocks frame (partition-
    local, driver-carried boundary state; no slices, no per-row eval
    lookups). Train members of an eval-containing identical group
    overlap verbatim at full length (tie_len)."""
    import numpy as np  # noqa: F401
    import pandas as pd  # noqa: F401

    blocks, members = frames["blocks"], frames["members"]
    # explicit partition count: exempt from AQE coalescing, so the
    # scan parallelism survives small shuffle sizes
    nparts = max(
        blocks.sparkSession.sparkContext.defaultParallelism, 2
    )
    sb = (
        blocks.select(
            "bid",
            "_m",
            "_he",
            F.coalesce("tie_len", F.lit(0)).alias("_tl"),
            F.coalesce("lcp_prev", F.lit(0)).alias("_lp"),
            F.coalesce("lcp_next", F.lit(0)).alias("_ln"),
        )
        .repartitionByRange(nparts, "bid")
        .sortWithinPartitions("bid")
        .withColumn("_pid", F.spark_partition_id())
        # lazy: the summary collect below materializes it
        .localCheckpoint(eager=False)
    )

    def _summarize(it):
        import numpy as _np
        import pandas as _pd

        pid = None
        hes, lps, lns = [], [], []
        for pdf in it:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            hes.append(pdf["_he"].to_numpy())
            lps.append(pdf["_lp"].to_numpy())
            lns.append(pdf["_ln"].to_numpy())
        if pid is None:
            return
        he = _np.concatenate(hes)
        lp = _np.concatenate(lps)
        ln = _np.concatenate(lns)
        ev = _np.flatnonzero(he == 1)
        big = 1 << 62
        if len(ev):
            last, first = int(ev[-1]), int(ev[0])
            tail = (
                int(lp[last + 1 :].min()) if last + 1 < len(lp) else big
            )
            head = int(ln[:first].min()) if first > 0 else big
        else:
            tail = head = big
        yield _pd.DataFrame(
            {
                "_pid": [pid],
                "has_eval": [bool(len(ev))],
                "fwd_tail": [tail],
                "bwd_head": [head],
                "fwd_all": [int(lp.min()) if len(lp) else big],
                "bwd_all": [int(ln.min()) if len(ln) else big],
            }
        )

    summ = {
        r["_pid"]: r
        for r in sb.select("_pid", "_he", "_lp", "_ln")
        .mapInPandas(
            _summarize,
            "_pid int, has_eval boolean, fwd_tail long, bwd_head long,"
            " fwd_all long, bwd_all long",
        )
        .collect()
    }
    pids = sorted(summ)
    fwd_in: dict = {}
    bwd_in: dict = {}
    v = None  # None = no eval seen yet; else min-chain since last eval
    for p in pids:
        fwd_in[p] = v
        r = summ[p]
        if r["has_eval"]:
            v = r["fwd_tail"]
        elif v is not None:
            v = min(v, r["fwd_all"])
    v = None
    for p in reversed(pids):
        bwd_in[p] = v
        r = summ[p]
        if r["has_eval"]:
            v = r["bwd_head"]
        elif v is not None:
            v = min(v, r["bwd_all"])

    def _scan(it, _fwd=fwd_in, _bwd=bwd_in):
        import numpy as _np
        import pandas as _pd

        big = 1 << 62
        # buffer the whole partition FIRST: a partition spans several
        # Arrow batches and the backward pass must walk them in
        # reverse (the per-batch form silently reset the running state
        # at every batch boundary - caught by the sf0.001 pure-Python
        # differential)
        parts = [pdf for pdf in it if len(pdf) > 0]
        if not parts:
            return
        pdf = _pd.concat(parts, ignore_index=True)
        p = int(pdf["_pid"].iloc[0])
        he = pdf["_he"].to_numpy()
        lp = pdf["_lp"].to_numpy()
        ln = pdf["_ln"].to_numpy()
        n = len(he)
        prevv = _np.zeros(n, dtype=_np.int64)
        nextv = _np.zeros(n, dtype=_np.int64)
        v = _fwd.get(p)
        v = big + 1 if v is None else v
        for i in range(n):
            if v <= big:
                v = min(v, int(lp[i]))
                prevv[i] = v if v <= big else 0
            if he[i] == 1:
                v = big
        u = _bwd.get(p)
        u = big + 1 if u is None else u
        for i in range(n - 1, -1, -1):
            if u <= big:
                u = min(u, int(ln[i]))
                nextv[i] = u if u <= big else 0
            if he[i] == 1:
                u = big
        out = _np.maximum(prevv, nextv)
        out[out > big] = 0
        yield _pd.DataFrame({"bid": pdf["bid"].to_numpy(), "_ev": out})

    scan_vals = sb.select("_pid", "bid", "_he", "_lp", "_ln").mapInPandas(
        _scan, "bid long, _ev long"
    )
    ev_per_block = (
        sb.where((F.col("_he") == 1) & (F.col("_m") >= 2))
        .select("bid", F.col("_tl").alias("eval_len"))
        .unionByName(
            sb.where(F.col("_he") == 0)
            .select("bid")
            .join(scan_vals, "bid")
            .select("bid", F.col("_ev").alias("eval_len"))
        )
    )
    return (
        members.where(F.col("_side") == 0)
        .join(ev_per_block, "bid", "left")
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("pos"),
            F.coalesce("eval_len", F.lit(0))
            .cast("long")
            .alias("eval_len"),
        )
    )


def suffix_dup_lengths(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per token position, the length (in tokens) of the LONGEST
    substring starting there that occurs at least twice in the corpus
    - the exact-substring grain of Lee et al. 2022 (arXiv:2107.06499)
    the 5-token span index approximates (r11 verdict #4). Builds the
    SUFFIX-ARRAY order over h60 token hashes (a permuted alphabet -
    LCP is alphabet-order-invariant) and reads lrs(i) = max(LCP with
    the two suffix-array neighbors), which is exact because the suffix
    sharing the longest prefix with S is always adjacent to S in SA
    order.

    The order is the bounded-prefix sort with tie refinement
    (suffix_block_frames): it sorts fixed-width chunks with
    geometrically growing widths instead of whole slices, collapses
    identical-suffix groups up front, and derives every LCP from
    split-time boundary records, so NO suffix slice ever enters a
    shuffle - ~w hashes per position plus the surviving dup mass,
    O(log max_doc_len) levels, no document-length cap.

    Suffixes never cross documents (each doc is its own sequence, the
    per-doc analogue of Lee et al.'s separator-joined concatenation).

    PRECONDITION: `id_col` values must be unique in `df` (see
    suffix_block_frames).

    Returns (id_col, pos, dup_len): one row per token position,
    dup_len = 0 when even the single token is unique. Pinned to a
    pure-Python suffix array in tests/test_properties.py; report
    consumer exact_substr_stats."""
    frames = suffix_block_frames(
        df, id_col=id_col, text_col=text_col, side=0
    )
    return suffix_dup_lengths_from_blocks(frames, id_col=id_col)


def exact_substr_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    lens: "DataFrame | None" = None,
) -> DataFrame:
    """Per-document exact-substring duplication report off the suffix
    grain (dup_span_stats' shape on suffix_dup_lengths): token count,
    positions starting a duplicated run of >= min_len tokens, the
    longest duplicated run, and the duplicated-position fraction. The
    5-token span index answers 'which positions sit in SOME 5-token
    duplicate'; this answers Lee et al.'s actual question - how LONG
    the duplicated runs are - exactly. `lens` injects a precomputed
    (id, pos, dup_len) frame so several report consumers share ONE
    suffix sort (the memoized-bar-frame discipline)."""
    if lens is None:
        lens = suffix_dup_lengths(df, id_col=id_col, text_col=text_col)
    per_doc = lens.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count(F.when(F.col("dup_len") >= min_len, 1))
        .cast("long")
        .alias("dup_positions"),
        F.max("dup_len").cast("long").alias("max_dup_len"),
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("dup_positions", F.lit(0))
        .cast("long")
        .alias("dup_positions"),
        F.coalesce("max_dup_len", F.lit(0))
        .cast("long")
        .alias("max_dup_len"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.round(
                F.coalesce("dup_positions", F.lit(0))
                / F.col("n_tokens"),
                6,
            ),
        ).alias("dup_pos_frac"),
    )


def suffix_eval_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT-substring decontamination (the suffix-grain arm of the
    triad, Lee et al. 2022's train-test overlap): per TRAIN document
    position, the longest token run shared VERBATIM with ANY eval
    document (thresholding - e.g. >= 8 tokens - is the report
    consumers' job). Verbatim-n-gram decontamination answers 'is
    there ANY n-gram overlap'; this answers 'how LONG is the longest
    quoted passage' - the number a release review actually debates.

    Merged suffix array: both sides' suffixes are ordered together
    ONCE by the bounded-prefix machinery (suffix_block_frames, side-
    tagged); a train suffix's maximal LCP against the whole eval set
    is attained at the NEAREST eval suffix in either direction of the
    merged order, so the eval-overlap of every train position is two
    running min-since-last-eval scans over the boundary LCPs
    (suffix_eval_overlap_from_blocks), never train x eval pairs, and
    no global single-task window exists in the plan.

    Returns (id_col, pos, eval_len) per train position; report
    consumer exact_decontamination_q aggregates per document.
    Ids must be unique across the two frames (they are: both sides
    come from the same documents table).

    Both sides MUST be ordered in ONE call: block ids are positions in
    one call's order, so per-side calls would yield incomparable
    frames. The streaming gate and exact_decontamination probe a
    broadcast build_eval_suffix_index instead while the eval side fits
    its token gate; this merged path is their fallback above it."""
    merged = train.select(
        F.col(id_col), F.col(text_col), F.lit(0).alias("_sd")
    ).unionByName(
        eval_df.select(
            F.col(id_col), F.col(text_col), F.lit(1).alias("_sd")
        )
    )
    frames = suffix_block_frames(
        merged, id_col=id_col, text_col=text_col, side=F.col("_sd")
    )
    return suffix_eval_overlap_from_blocks(frames, id_col=id_col)


def _eval_suffix_array(E):
    """Suffix array of an int64 token-hash sequence by prefix doubling
    (numpy argsort/lexsort, O(n log^2 n)) - driver-local, used only on
    the size-gated FROZEN eval side of build_eval_suffix_index. The
    per-doc sentinels in E are distinct, so all suffixes are distinct
    and the doubling always reaches full rank."""
    import numpy as np

    n = len(E)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.argsort(E, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    se = E[order]
    rank[order] = np.cumsum(
        np.concatenate(([0], (se[1:] != se[:-1]).astype(np.int64)))
    )
    k = 1
    while k < n:
        k2 = np.full(n, -1, dtype=np.int64)
        k2[: n - k] = rank[k:]
        order = np.lexsort((k2, rank))
        r1, r2 = rank[order], k2[order]
        changed = np.concatenate(
            (
                [0],
                ((r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])).astype(
                    np.int64
                ),
            )
        )
        nr = np.cumsum(changed)
        rank = np.empty(n, dtype=np.int64)
        rank[order] = nr
        if nr[-1] == n - 1:
            break
        k <<= 1
    return order


# Token-mass gate for the broadcastable eval-side suffix index: above
# this the index (16 bytes/token in the broadcast, unpickled once per
# pooled Python worker) stops being "the small side" and callers fall
# back to the merged suffix sort. 4M tokens = 64 MB broadcast.
_EVAL_INDEX_MAX_TOKENS = 1 << 22


def build_eval_suffix_index(
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: "int | None" = None,
):
    """Broadcastable suffix index over a FROZEN eval set - the stored
    eval side of the streaming decontamination gate (r14 verdict #1:
    the gate re-sorted batch UNION eval per micro-batch; with the eval
    side frozen, per-batch cost should be O(batch), like every other
    delta lane). An eval/benchmark suite is the canonical broadcast
    small side (guide S3/S8: decide against a lightweight structure,
    never re-shuffle what didn't change): token hashes + suffix array
    cost 16 bytes/token, so even a very large eval suite is megabytes
    while the stream is unbounded.

    Returns {"E": int64 token hashes of all eval docs concatenated
    with DISTINCT negative per-doc sentinels (h60 is non-negative, so
    a match can never cross a doc boundary), "SA": suffix array over
    the non-sentinel positions, "vocab": sorted unique eval token
    hashes (the O(1) ms=0 screen)} - or None when the eval side
    exceeds max_tokens (default SPARK_GRAFT_EVAL_INDEX_MAX_TOKENS env
    or 4M tokens); callers then fall back to the merged sort.
    Tokenization is the family's ONE expression
    (_suffix_token_hashes), so probe LCPs are value-identical to the
    merged machinery's."""
    import os

    import numpy as np

    if max_tokens is None:
        try:
            max_tokens = int(
                os.environ.get(
                    "SPARK_GRAFT_EVAL_INDEX_MAX_TOKENS",
                    _EVAL_INDEX_MAX_TOKENS,
                )
            )
        except ValueError:
            max_tokens = _EVAL_INDEX_MAX_TOKENS
    hashed = eval_df.select(
        _suffix_token_hashes(text_col).alias("_h")
    ).where(F.size("_h") > 0)
    # size pre-check BEFORE collecting anything corpus-sized
    total = hashed.agg(F.sum(F.size("_h"))).collect()[0][0] or 0
    if total > max_tokens:
        return None
    arrays = [r["_h"] for r in hashed.collect()]
    segs: list = []
    sep = -1
    for a in arrays:
        segs.append(np.asarray(a, dtype=np.int64))
        segs.append(np.array([sep], dtype=np.int64))
        sep -= 1
    E = (
        np.concatenate(segs)
        if segs
        else np.empty(0, dtype=np.int64)
    )
    SA = _eval_suffix_array(E)
    SA = SA[E[SA] >= 0]
    vocab = np.unique(E[E >= 0])
    return {"E": E, "SA": SA, "vocab": vocab}


# Chunk width of the vectorized probe's fixed-width prefix keys: a
# position whose first _PROBE_K tokens all match some eval suffix
# takes the exact per-position refinement, everything else resolves in
# the vectorized pass - so the slow path runs only on positions inside
# a >= _PROBE_K-token verbatim quote (contaminated mass only).
_PROBE_K = 16
# pad BELOW every real value: h60 >= 0, sentinels in [-ndocs, -1]
_PROBE_PAD = -(1 << 62)

# per-worker derived-key cache: ETOK/EKEY are deterministic functions
# of the broadcast index, derived once per pooled Python worker (the
# broadcast's .value is process-cached, so id() is a stable key)
_EVAL_PROBE_CACHE: dict = {}


def _eval_probe_tables(idx):
    """(ETOK (nsa,K) int64, EKEY |S(8K) sorted) derived from a
    build_eval_suffix_index value: each suffix array entry's first K
    tokens raw and as a big-endian biased byte key (order-identical to
    the int64 tuple order, so ONE np.searchsorted ranks every query
    prefix at once)."""
    import numpy as np

    key = id(idx["E"])
    hit = _EVAL_PROBE_CACHE.get(key)
    # identity check guards against id() reuse after a GC'd broadcast
    if hit is not None and hit[0] is idx["E"]:
        return hit[1], hit[2]
    E, SA, K = idx["E"], idx["SA"], _PROBE_K
    pad = np.full(K, _PROBE_PAD, dtype=np.int64)
    EPAD = np.concatenate([E, pad])
    ETOK = np.lib.stride_tricks.sliding_window_view(EPAD, K)[
        SA
    ].copy()
    EKEY = (
        (ETOK + (1 << 62))
        .astype(">u8")
        .reshape(len(SA), K)
        .view(f"|S{8 * K}")
        .ravel()
    )
    _EVAL_PROBE_CACHE.clear()  # one live index per worker is plenty
    _EVAL_PROBE_CACHE[key] = (idx["E"], ETOK, EKEY)
    return ETOK, EKEY


def _suffix_eval_probe_frame(
    batch: DataFrame,
    index_bc,
    *,
    id_col: str,
    text_col: str,
    run_threshold: int,
    stats: bool,
) -> DataFrame:
    """Shared core of suffix_eval_maxrun_probe /
    suffix_eval_stats_probe: per batch document, exact per-position
    matching statistics against a broadcast build_eval_suffix_index,
    aggregated per doc - (n_tokens, positions with ms >=
    run_threshold, max ms). Value-identical to the merged suffix
    sort's suffix_eval_overlap aggregates, with no per-batch sort.

    The only exchange is a round-robin spread of (id, hashes) rows so
    the probe stage is not serialized by a single-file batch scan
    (guide S2.3: shuffle keys, never payloads - text stays behind).
    Inside the task everything is vectorized (guide S4.2): every
    position's first-K-token prefix becomes one fixed-width byte key,
    ONE np.searchsorted against the index's key table ranks them all,
    and a matrix compare against the two neighbor rows yields exact
    LCPs below K. Positions matching a full K-token prefix (i.e.
    inside a >= K-token verbatim quote - contaminated mass only) take
    an exact per-position binary search over the full suffixes."""
    import numpy as np  # noqa: F401 - workers import inside closures
    import pandas as pd  # noqa: F401

    id_t = {
        f.name: f.dataType.simpleString()
        for f in batch.schema.fields
    }[id_col]
    sess = batch.sparkSession
    nparts = max(sess.sparkContext.defaultParallelism, 2)
    hashed = batch.select(
        F.col(id_col), _suffix_token_hashes(text_col).alias("_h")
    ).repartition(nparts)

    def _probe(it):
        import numpy as _np
        import pandas as _pd

        idx = index_bc.value
        E, SA, vocab = idx["E"], idx["SA"], idx["vocab"]
        nsa, ne, nv, K = len(SA), len(E), len(vocab), _PROBE_K
        if nsa:
            ETOK, EKEY = _eval_probe_tables(idx)

        def _cmp(s, q, i):
            # compare E[s:] with q[i:]; (sign, lcp). E's sentinels are
            # negative and q is non-negative, so runs stop at doc ends
            m = min(ne - s, len(q) - i)
            a = E[s : s + m]
            b = q[i : i + m]
            neq = _np.flatnonzero(a != b)
            if len(neq):
                j = int(neq[0])
                return (-1 if a[j] < b[j] else 1), j
            if ne - s == len(q) - i:
                return 0, m
            return (-1 if ne - s < len(q) - i else 1), m

        def _ms(q, i):
            lo, hi, best = 0, nsa, 0
            while lo < hi:
                mid = (lo + hi) >> 1
                c, l = _cmp(int(SA[mid]), q, i)
                if l > best:
                    best = l
                if c < 0:
                    lo = mid + 1
                else:
                    hi = mid
            for nb in (lo - 1, lo):
                if 0 <= nb < nsa:
                    _, l = _cmp(int(SA[nb]), q, i)
                    if l > best:
                        best = l
            return best

        def _emit(pdf, ntok, nge, mx):
            cols = {id_col: pdf[id_col].to_numpy()}
            if stats:
                cols["n_tokens"] = ntok
                cols["contaminated_positions"] = nge
            cols["max_eval_run"] = mx
            return _pd.DataFrame(cols)

        for pdf in it:
            if len(pdf) == 0:
                continue
            outs = _np.zeros(len(pdf), dtype=_np.int64)
            nge = _np.zeros(len(pdf), dtype=_np.int64)
            ntok = _np.array(
                [0 if h is None else len(h) for h in pdf["_h"]],
                dtype=_np.int64,
            )
            if nsa == 0:
                yield _emit(pdf, ntok, nge, outs)
                continue
            # flatten every doc's positions into one batch-wide matrix
            qs, docix, posix = [], [], []
            for row, h in enumerate(pdf["_h"]):
                if h is None:
                    continue
                q = _np.asarray(h, dtype=_np.int64)
                n = len(q)
                if n == 0:
                    continue
                # ms=0 screen: a position can only start a run if its
                # token occurs in the eval vocabulary at all
                vi = _np.searchsorted(vocab, q)
                inb = vi < nv
                hit = _np.zeros(n, dtype=bool)
                hit[inb] = vocab[vi[inb]] == q[inb]
                keep = _np.flatnonzero(hit)
                if len(keep) == 0:
                    continue
                qs.append(q)
                docix.append(_np.full(len(keep), row, _np.int64))
                posix.append(keep)
            if not qs:
                yield _emit(pdf, ntok, nge, outs)
                continue
            lens = _np.array([len(q) for q in qs], _np.int64)
            starts = _np.concatenate(([0], _np.cumsum(lens + K)))[:-1]
            flat = _np.full(
                int((lens + K).sum()), _PROBE_PAD, dtype=_np.int64
            )
            for j, q in enumerate(qs):
                flat[starts[j] : starts[j] + len(q)] = q
            doci = _np.concatenate(docix)
            posi = _np.concatenate(posix)
            # absolute flat offset of each surviving position
            seg = _np.repeat(
                _np.arange(len(qs), dtype=_np.int64),
                [len(p) for p in posix],
            )
            abspos = starts[seg] + posi
            QTOK = _np.lib.stride_tricks.sliding_window_view(flat, K)[
                abspos
            ]
            QKEY = (
                (QTOK + (1 << 62))
                .astype(">u8")
                .reshape(len(abspos), K)
                .view(f"|S{8 * K}")
                .ravel()
            )
            ip = _np.searchsorted(EKEY, QKEY)
            best = _np.zeros(len(abspos), dtype=_np.int64)
            for nb in (ip - 1, ip):
                valid = (nb >= 0) & (nb < nsa)
                if not valid.any():
                    continue
                cmp_eq = (
                    ETOK[_np.clip(nb, 0, nsa - 1)] == QTOK
                ) & valid[:, None]
                # first mismatch per row = exact LCP (capped at K)
                lcp = _np.where(
                    cmp_eq.all(axis=1),
                    K,
                    _np.argmin(cmp_eq, axis=1),
                )
                _np.maximum(best, lcp, out=best)
            # exact refinement for full-K prefixes: only positions
            # inside a >= K-token verbatim eval quote land here
            for j in _np.flatnonzero(best >= K):
                best[j] = _ms(qs[seg[j]], int(posi[j]))
            _np.maximum.at(outs, doci, best)
            if stats:
                _np.add.at(
                    nge, doci, (best >= run_threshold).astype(_np.int64)
                )
            yield _emit(pdf, ntok, nge, outs)

    schema = f"`{id_col}` {id_t}, "
    if stats:
        schema += "n_tokens long, contaminated_positions long, "
    schema += "max_eval_run long"
    return hashed.mapInPandas(_probe, schema)


def suffix_eval_maxrun_probe(
    batch: DataFrame,
    index_bc,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, max_eval_run) per batch document, probed against a
    broadcast build_eval_suffix_index - value-identical to
    suffix_eval_overlap(batch, eval).groupBy(id).max(eval_len), with
    no per-batch suffix sort (see _suffix_eval_probe_frame). Docs
    with no tokens (null/empty text) report 0, the merged path's
    LEFT-join semantics."""
    return _suffix_eval_probe_frame(
        batch,
        index_bc,
        id_col=id_col,
        text_col=text_col,
        run_threshold=1,
        stats=False,
    )


def suffix_eval_stats_probe(
    batch: DataFrame,
    index_bc,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_threshold: int = 8,
) -> DataFrame:
    """(id, n_tokens, contaminated_positions, max_eval_run) per batch
    document - the exact_decontamination report aggregates, computed
    from the broadcast eval index instead of the merged suffix sort:
    n_tokens = the doc's position count, contaminated_positions = the
    positions whose matching statistic reaches run_threshold, and
    max_eval_run = the per-doc max. Value-identical to the
    suffix_eval_overlap groupBy (differential-tested). run_threshold
    must be >= 1: screened-out positions (token absent from the eval
    vocabulary) have ms = 0 and are counted implicitly, never
    enumerated."""
    if run_threshold < 1:
        raise ValueError("run_threshold must be >= 1")
    return _suffix_eval_probe_frame(
        batch,
        index_bc,
        id_col=id_col,
        text_col=text_col,
        run_threshold=run_threshold,
        stats=True,
    )
