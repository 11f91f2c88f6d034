"""Shared helpers of the documents-table query families (split from
queries/text.py in r12, verdict #7): the _TOKS tokenization constant,
h60 SQL mirrors, shingle/pair caches, the shared BPE merge-loop CTE
builder, and every other helper used by two or more of the
dedup/tokenizer/retrieval/curation modules. Pure move - no behavior
change; queries/text.py remains the facade that re-exports every name
and pins the registry order."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    H60_MOD,
    shingles_exploded,
    dropDuplicates_exact,
    exact_dedup_groups,
    minhash_lane_constants,
    minhash_neardup_pairs,
    normalized_tokens,
    shingle_array,
    simhash_neardup_pairs,
    token_shingles,
)
from ..operators.textstats import (
    LANG_MARKERS,
    curate_corpus,
    doc_fingerprint,
    text_stats,
)
from ..sources import read_table
from .registry import q

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


_SHINGLES = (
    f"list_distinct(list_transform(range(0, greatest(len({_TOKS}) - 3, 0) + 1),"
    f" i -> array_to_string(({_TOKS})[i + 1:i + 3], ' ')))"
)


def _jaccard_pair_frame(docs, threshold: float):
    """Exact 3-gram Jaccard pairs (id_a < id_b, blocked by `source`)
    via the inverted-index plan - shared by ngram_jaccard_pairs and
    neardup_groups.

    Inverted-index plan (the 100-TB shape): explode shingles, self-join
    on (source, shingle) to count the intersection per pair, then
    jaccard = common / (|A| + |B| - common). Pairs sharing zero shingles
    never materialize - unlike the naive self-join + array_intersect,
    which enumerates the full blocked n^2 and re-scans both arrays per
    pair (measured 35s vs ~3s at sf0.1)."""
    # shingles pre-hashed to 8-byte longs (collision odds ~1e-11 at this
    # cardinality); the per-doc set size is read off the shingle array
    # before exploding, so the whole index build has ZERO exchanges and
    # the Jaccard arithmetic needs no separate `sizes` joins - the
    # intersection count and both set sizes come out of the one
    # inverted-index self-join.
    inv = _build_shingle_index(docs)
    return _pairs_from_index(inv, threshold)


def _build_shingle_index(docs):
    """(doc_id, source, n_sh, sh) hashed 3-gram inverted index - the
    zero-exchange build every shingle consumer starts from."""
    return shingles_exploded(
        docs, extra_cols=("source",), hashed=True, count_col="n_sh"
    ).select("doc_id", "source", "n_sh", F.col("shingle").alias("sh"))


def _pairs_from_index(inv, threshold: float):
    # Explicit repartition on the join keys: both self-join sides then
    # share one identical exchange subplan, so ReusedExchange builds the
    # index ONCE instead of once per side, and the join needs no further
    # shuffle (co-partitioned children).
    inv = inv.repartition(F.col("source"), F.col("sh"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count("*").alias("common"),
            F.max(F.col("a.n_sh")).alias("n_a"),
            F.max(F.col("b.n_sh")).alias("n_b"),
        )
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return common.where(jac >= threshold).select(
        "id_a", "id_b", jac.alias("jaccard_exact")
    )


# Per-corpus caches, keyed on (applicationId, sf_dir, file stamp) like
# _COMPONENTS_CACHE:
#  - _INDEX_CACHE: the exploded hashed shingle index (one build serves
#    the Jaccard pairs, contamination, and any future shingle consumer;
#    the build's interpreted transform chain over every document is the
#    expensive part, ~1s + ~1s plan analysis per occurrence at sf0.1).
#  - _PAIRS_CACHE: the pairs frame at the loosest threshold any
#    consumer needs (0.02, the components build); the inverted-index
#    join + per-pair aggregation is identical for every consumer - the
#    Jaccard threshold is only a post-aggregation filter - so each
#    consumer re-filters on the exact (unrounded) jaccard.
_PAIRS_FLOOR = 0.02


_PAIRS_CACHE: dict = {}


_INDEX_CACHE: dict = {}


def _corpus_key(spark, sf_dir):
    from .registry import corpus_key

    return corpus_key(spark, sf_dir, "documents")


def _shingle_index(spark, sf_dir):
    # derived from the ONE checkpointed per-doc array build (r11: the
    # exploded index and the minhash shingle sets previously each ran
    # their own text->tokens->shingles->hash transform; now both slice
    # the same _shingle_base, so the corpus pays the interpreted
    # transform exactly once per session). Exploding the checkpointed
    # arrays is cheap; the frame stays lazy so _pairs_from_index's
    # self-join still reuses one exchange for both sides.
    key = _corpus_key(spark, sf_dir)
    if key not in _INDEX_CACHE:
        base = _shingle_base(spark, sf_dir)
        _INDEX_CACHE[key] = base.select(
            "doc_id",
            "source",
            F.size("sh").alias("n_sh"),
            F.explode("sh").alias("sh"),
        )
    return _INDEX_CACHE[key]


def _shared_pairs(spark, sf_dir):
    key = _corpus_key(spark, sf_dir)
    if key not in _PAIRS_CACHE:
        _PAIRS_CACHE[key] = _pairs_from_index(
            _shingle_index(spark, sf_dir), _PAIRS_FLOOR
        ).localCheckpoint(eager=True)
    return _PAIRS_CACHE[key]


# h60 in DuckDB: identical value to operators/dedup.h60 (first 15 hex
# chars of md5 as a non-negative bigint).
def _h60_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# Per-corpus cache of the per-doc hashed shingle-ARRAY frame
# (doc_id, source, sh: array<long>) - the ONE interpreted
# shingle-transform pass per corpus. Every shingle consumer slices it:
# the MinHash signature+verify stages take (doc_id, sh), the exploded
# inverted index (_shingle_index) takes explode(sh) with source/n_sh.
# (The r02 minhash_neardup regression was a per-consumer rebuild of
# this transform; r11 merged the last two remaining builds - sets and
# index - into this one.)
_SHINGLE_BASE_CACHE: dict = {}


def _shingle_base(spark, sf_dir):
    key = _corpus_key(spark, sf_dir)
    if key not in _SHINGLE_BASE_CACHE:
        from ..operators.dedup import _batch_min_splits

        # Parallelism floor BEFORE the interpreted transform (r14): the
        # bench corpora are ONE parquet file => one scan split, so the
        # md5 shingle hashing ran single-threaded AND the checkpoint
        # froze that 1-partition layout into every downstream shingle
        # consumer (minhash signatures, the inverted index, near-dup
        # components all inherited parallelism 1). Measured 4.7 -> 1.1 s
        # for the base build at sf0.1; multi-file corpora (real scale)
        # keep their natural layout - no new exchange (same gate as the
        # delta lanes, r13 verdict #2).
        docs = _batch_min_splits(read_table(spark, sf_dir, "documents"))
        _SHINGLE_BASE_CACHE[key] = docs.select(
            F.col("doc_id"),
            F.col("source"),
            shingle_array(F.col("text"), n=3, hashed=True).alias("sh"),
        ).localCheckpoint(eager=True)
    return _SHINGLE_BASE_CACHE[key]


# Transitive closure via a recursive CTE: reach = every node reachable
# from `id`; the component label is the minimum reachable id (including
# id itself) - exactly connected_components' min-label fixpoint.
# ONE copy of the shingle-pair + transitive-closure CTE chain (the
# review-wave finding: it had been restated verbatim in four oracles,
# so a threshold or labeling change could silently diverge them - the
# _SESSION_SUMMARY_CTE discipline from queries/timeseries.py applied
# here). Every near-dup oracle composes WITH RECURSIVE + this block.
_NEARDUP_COMP_CTES = f"""
s AS (
  SELECT doc_id, source, {_SHINGLES} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.02
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION
  SELECT w.id, e.b FROM reach w JOIN edges e ON w.r = e.a
),
comp AS (
  SELECT id AS doc_id, least(id, min(r)) AS component
  FROM reach GROUP BY id
)
"""


_COMPONENTS_CACHE: dict = {}


def _neardup_components(spark, sf_dir, threshold=0.02):
    """pairs -> connected components, built once per (Spark app,
    sf_dir, threshold) and shared by neardup_groups / neardup_keep -
    the iterative label propagation is the expensive stage and both
    queries consume the identical result. Keyed on applicationId (a new
    session, whose checkpointed blocks are gone, rebuilds instead of
    erroring) and on the source file's mtime/size (a rewritten corpus
    invalidates the entry); the cached frame is a few rows per near-dup
    doc."""
    import os

    from ..operators.graph import connected_components

    assert threshold >= _PAIRS_FLOOR
    path = os.path.join(sf_dir, "documents.parquet")
    stamp = (os.path.getmtime(path), os.path.getsize(path))
    key = (spark.sparkContext.applicationId, sf_dir, threshold, stamp)
    if key not in _COMPONENTS_CACHE:
        pairs = _shared_pairs(spark, sf_dir).where(
            F.col("jaccard_exact") >= threshold
        )
        # already materialized: a local relation on the driver path,
        # the confirm pass's checkpointed labels on the distributed one
        _COMPONENTS_CACHE[key] = connected_components(
            pairs, "id_a", "id_b"
        )
    return _COMPONENTS_CACHE[key]


def _dup_span_removal_sql(src: str = "documents") -> str:
    """Full WITH..SELECT mirror of remove_duplicated_spans over `src`
    (a table or an outer CTE name - DuckDB resolves either inside a
    nested-WITH subquery, which is how curation_pipeline embeds it)."""
    return f"""
WITH t AS (
  SELECT doc_id, list_filter({_TOKS}, w -> len(w) > 0) AS toks
  FROM {src}
),
sp AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) >= 5 THEN
           list_transform(range(0, len(toks) - 4),
             i -> {_h60_sql("array_to_string(toks[i + 1:i + 5], ' ')")})
         WHEN len(toks) >= 1 THEN
           [{_h60_sql("array_to_string(toks, ' ')")}]
         ELSE CAST([] AS BIGINT[]) END AS spans
  FROM t
),
ex AS (
  SELECT doc_id, unnest(spans) AS h,
         generate_subscripts(spans, 1) - 1 AS p
  FROM sp
),
hot AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM ex)
  GROUP BY h HAVING count(*) >= 2
),
st AS (
  SELECT doc_id, list(p) AS starts FROM ex JOIN hot USING (h)
  GROUP BY doc_id
),
j AS (
  SELECT sp.doc_id, sp.toks, sp.n,
         coalesce(st.starts, CAST([] AS BIGINT[])) AS starts,
         least(5, sp.n) AS w
  FROM sp LEFT JOIN st USING (doc_id)
),
kept AS (
  SELECT doc_id, n,
         list_transform(
           list_filter(list_zip(toks, range(0, n)),
             z -> len(list_filter(starts,
                    s -> z[2] >= s AND z[2] < s + w)) = 0),
           z -> CAST(z[1] AS VARCHAR)) AS ktoks
  FROM j
)
SELECT doc_id, coalesce(array_to_string(ktoks, ' '), '') AS text,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(n - len(ktoks) AS BIGINT) AS n_tokens_removed
FROM kept
"""


def _dup_span_removal_keepfirst_sql(src: str = "documents") -> str:
    """Keep-first twin of _dup_span_removal_sql (the Lee et al.
    keep-one semantics): each hot span's canonical first occurrence
    (row_number over (doc, pos) inside the span partition) survives;
    only non-first occurrences feed the removal starts. Same
    prefix/excision machinery."""
    return f"""
WITH t AS (
  SELECT doc_id, list_filter({_TOKS}, w -> len(w) > 0) AS toks
  FROM {src}
),
sp AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) >= 5 THEN
           list_transform(range(0, len(toks) - 4),
             i -> {_h60_sql("array_to_string(toks[i + 1:i + 5], ' ')")})
         WHEN len(toks) >= 1 THEN
           [{_h60_sql("array_to_string(toks, ' ')")}]
         ELSE CAST([] AS BIGINT[]) END AS spans
  FROM t
),
ex AS (
  SELECT doc_id, unnest(spans) AS h,
         generate_subscripts(spans, 1) - 1 AS p
  FROM sp
),
hot AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM ex)
  GROUP BY h HAVING count(*) >= 2
),
r AS (
  SELECT doc_id, p,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
  FROM ex JOIN hot USING (h)
),
st AS (
  SELECT doc_id, list(p) AS starts FROM r WHERE rn > 1
  GROUP BY doc_id
),
j AS (
  SELECT sp.doc_id, sp.toks, sp.n,
         coalesce(st.starts, CAST([] AS BIGINT[])) AS starts,
         least(5, sp.n) AS w
  FROM sp LEFT JOIN st USING (doc_id)
),
kept AS (
  SELECT doc_id, n,
         list_transform(
           list_filter(list_zip(toks, range(0, n)),
             z -> len(list_filter(starts,
                    s -> z[2] >= s AND z[2] < s + w)) = 0),
           z -> CAST(z[1] AS VARCHAR)) AS ktoks
  FROM j
)
SELECT doc_id, coalesce(array_to_string(ktoks, ' '), '') AS text,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(n - len(ktoks) AS BIGINT) AS n_tokens_removed
FROM kept
"""


# Per-corpus cache of the 64-dim hashed feature frame - the shared
# intermediate of the classifier pair (serving scores the whole frame,
# training collects its doc_id % 5 slice), the _shingle_sets pattern.
_HASH_FEATS_CACHE: dict = {}


def _hash_feats(spark, sf_dir, dim: int = 64):
    from ..operators.textstats import hashing_trick_embed

    key = (_corpus_key(spark, sf_dir), dim)
    if key not in _HASH_FEATS_CACHE:
        _HASH_FEATS_CACHE[key] = hashing_trick_embed(
            read_table(spark, sf_dir, "documents"), dim=dim
        ).localCheckpoint(eager=True)
    return _HASH_FEATS_CACHE[key]
