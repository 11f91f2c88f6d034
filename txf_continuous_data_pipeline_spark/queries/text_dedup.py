"""Documents-table DEDUP queries (split from queries/text.py, r12):
exact/MinHash/SimHash/near-dup, span + exact-substring (suffix grain),
line dedup, decontamination, overlap/threshold diagnostics. Pure move
- behavior, oracles, and registration names unchanged."""

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
from . import artifacts
from .registry import q
from .text_common import (  # noqa: F401
    _NEARDUP_COMP_CTES,
    _SHINGLES,
    _TOKS,
    _dup_span_removal_keepfirst_sql,
    _dup_span_removal_sql,
    _h60_sql,
    _neardup_components,
    _shared_pairs,
    _shingle_base,
    _shingle_index,
)


@q(
    "dedup_exact_groups",
    """
SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
""",
)
def dedup_exact_groups_q(spark, sf_dir):
    """Exact dedup groups: digest -> representative id + multiplicity.
    The shuffle key is the 32-byte md5, never the document text."""
    return exact_dedup_groups(read_table(spark, sf_dir, "documents"))


@q(
    "dedup_exact_keep",
    """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
""",
)
def dedup_exact_keep(spark, sf_dir):
    """Exact dedup applied: one surviving row per distinct text."""
    return dropDuplicates_exact(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "n_chars"
    )

_JACCARD_SQL = f"""
WITH s AS (
  SELECT doc_id, source, {_SHINGLES} AS sh FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
"""


@q("ngram_jaccard_pairs", _JACCARD_SQL)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs >= 0.2, blocked by `source`
    (see _jaccard_pair_frame for the inverted-index plan notes; the
    pairs build is shared with neardup_groups/keep via _shared_pairs)."""
    return (
        _shared_pairs(spark, sf_dir)
        .where(F.col("jaccard_exact") >= 0.2)
        .select(
            "id_a", "id_b", F.round("jaccard_exact", 6).alias("jaccard")
        )
    )


#: hashed shingle set - the oracle twin of shingle_array(hashed=True)
_SHINGLES_H = f"list_transform({_SHINGLES}, s -> {_h60_sql('s')})"


def _minhash_sql(num_hashes: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    """Mirror of minhash_neardup_pairs: the SAME lane constants (seeded
    numpy), affine mix mod 2^60 in HUGEINT (exact - equals numpy's
    wrapping uint64 product masked to 60 bits because 2^60 | 2^64),
    band buckets as h60 of the comma-joined lanes, candidate self-join,
    exact-Jaccard verify."""
    a_lane, b_lane = minhash_lane_constants(num_hashes)
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"CAST(min((CAST({int(a_lane[i])} AS HUGEINT) * h + {int(b_lane[i])})"
        f" % {H60_MOD}) AS BIGINT) AS s{i}"
        for i in range(num_hashes)
    )
    band_list = ",\n           ".join(
        _h60_sql(
            "concat(" + ", ',', ".join(f"s{bi * rows + r}" for r in range(rows)) + ")"
        )
        for bi in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.shl, sb.shl)))"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_H} AS shl FROM documents
),
eh AS (SELECT doc_id, unnest(shl) AS h FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM eh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest(range(0, {bands})) AS band_id,
         unnest([{band_list}]) AS band_hash
  FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, round({jac}, 6) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.id_a
JOIN sh sb ON sb.doc_id = c.id_b
WHERE {jac} >= {threshold}
"""


def _simhash_sql(bits: int = 60, bands: int = 4, max_hamming: int = 3) -> str:
    """Mirror of simhash_neardup_pairs: h60 token hashes, per-bit
    majority vote (2*ones > n) composed as 60 CASE-sum terms, pigeonhole
    banding, exact popcount verify."""
    width = bits // bands
    mask = (1 << width) - 1
    vote = "\n       + ".join(
        f"(CASE WHEN 2 * sum((h >> {b}) & 1) > count(*) THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    chunks = ", ".join(
        f"(simhash >> {i * width}) & {mask}" for i in range(bands)
    )
    return f"""
WITH th AS (
  SELECT doc_id, {_h60_sql('tok')} AS h
  FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents)
),
fp AS (
  SELECT doc_id,
         CAST({vote} AS BIGINT) AS simhash
  FROM th GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, unnest(range(0, {bands})) AS band,
         unnest([{chunks}]) AS chunk
  FROM fp
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform({_TOKS}, t -> {_h60_sql('t')} % 1000000007)),
         (acc, x) -> (acc * 31 + x) % 1000000007
       ) AS fingerprint
FROM documents
"""


def _shingle_sets(spark, sf_dir):
    """(doc_id, sh) slice of _shingle_base - the shape the MinHash
    operators' shingle_sets parameter contracts (extra columns would
    leak into their exploded aggregates)."""
    return _shingle_base(spark, sf_dir).select("doc_id", "sh")


@q("minhash_neardup", _minhash_sql())
def minhash_neardup(spark, sf_dir):
    """MinHash(32) + LSH(8 bands) near-dup pairs with exact-Jaccard
    verification >= 0.5. Hash-green: the h60 family and seeded lane
    constants are reproduced exactly in the oracle SQL, so signatures,
    band buckets AND the verified jaccard all value-match DuckDB."""
    return minhash_neardup_pairs(
        read_table(spark, sf_dir, "documents"),
        threshold=0.5,
        shingle_sets=_shingle_sets(spark, sf_dir),
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@q("simhash_neardup", _simhash_sql())
def simhash_neardup(spark, sf_dir):
    """SimHash-banded near-dup pairs at hamming distance <= 3, over the
    60-bit h60 token-hash family (value-checkable in oracle SQL)."""
    return simhash_neardup_pairs(read_table(spark, sf_dir, "documents"))


@q("doc_fingerprint", _FINGERPRINT_SQL)
def doc_fingerprint_q(spark, sf_dir):
    """Order-sensitive rolling token-hash fingerprint per document
    (h60 token hashes folded mod 1e9+7; list_reduce oracle)."""
    return doc_fingerprint(read_table(spark, sf_dir, "documents"))


_NEARDUP_GROUPS_SQL = (
    f"WITH RECURSIVE {_NEARDUP_COMP_CTES}\n"
    "SELECT doc_id, component FROM comp"
)


@q("neardup_groups", _NEARDUP_GROUPS_SQL)
def neardup_groups(spark, sf_dir):
    """The composed dedup story, last stage included: near-dup PAIRS
    (exact 3-gram Jaccard >= 0.02, inverted index) -> connected
    components -> (doc_id, component) group assignment with component =
    min doc_id of the transitive-closure group. The graph stage is
    operators/graph.connected_components (min-label propagation, one
    shuffle per round); the oracle reproduces the same fixpoint with a
    recursive CTE."""
    comp = _neardup_components(spark, sf_dir)
    return comp.select(F.col("id").alias("doc_id"), "component")


_NEARDUP_KEEP_SQL = (
    f"WITH RECURSIVE {_NEARDUP_COMP_CTES}\n"
    """SELECT d.doc_id, d.source, d.lang
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component)"""
)


@q("neardup_keep", _NEARDUP_KEEP_SQL)
def neardup_keep(spark, sf_dir):
    """The dedup story's final act: the curated corpus after near-dup
    removal - every singleton plus ONE representative (min doc_id) per
    transitive-closure group. pairs -> connected_components (shared
    with neardup_groups via _neardup_components) -> left-anti join of
    the non-representatives; the corpus side never shuffles (the tiny
    non-representative list broadcasts)."""
    docs = read_table(spark, sf_dir, "documents")
    comp = _neardup_components(spark, sf_dir)
    losers = comp.where(F.col("id") != F.col("component")).select("id")
    return docs.join(
        F.broadcast(losers), docs["doc_id"] == losers["id"], "left_anti"
    ).select("doc_id", "source", "lang")


_CONTAMINATION_SQL = f"""
WITH s AS (
  SELECT doc_id, source, {_SHINGLES} AS sh FROM documents
),
ev AS (SELECT * FROM s WHERE source = 'src0'),
tr AS (SELECT * FROM s WHERE source <> 'src0')
SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
       round(CAST(len(list_intersect(e.sh, t.sh)) AS DOUBLE)
             / greatest(len(e.sh), 1), 6) AS containment
FROM ev e JOIN tr t ON len(list_intersect(e.sh, t.sh)) > 0
WHERE CAST(len(list_intersect(e.sh, t.sh)) AS DOUBLE)
      / greatest(len(e.sh), 1) >= 0.05
"""


@q("contamination_pairs", _CONTAMINATION_SQL)
def contamination_pairs(spark, sf_dir):
    """Eval-set decontamination: 3-gram CONTAINMENT of each eval doc
    (source 'src0' stands in for the benchmark set) against the train
    corpus (every other source) - containment = |eval n-grams also in
    the train doc| / |eval n-grams|, the standard contamination test
    (asymmetric, unlike Jaccard: a short eval prompt fully quoted
    inside a long train document scores 1.0).

    Plan: the same shingle inverted index as the near-dup path, but
    UN-blocked across the eval/train split - the index join enumerates
    only shingle collisions, so the train corpus can be 100 TB while
    the candidate set stays proportional to actual overlap. The eval
    side is tiny by nature and carries its shingle-set size along, so
    containment falls out of the one index join."""
    inv = _shingle_index(spark, sf_dir)
    ev = inv.where(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_id"),
        F.col("n_sh").alias("n_eval"),
        "sh",
    )
    tr = inv.where(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_id"), "sh"
    )
    common = (
        ev.join(tr, "sh")
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").alias("common"), F.max("n_eval").alias("n_eval"))
    )
    containment = F.col("common") / F.greatest(F.col("n_eval"), F.lit(1))
    return common.where(containment >= 0.05).select(
        "eval_id",
        "train_id",
        F.round(containment, 6).alias("containment"),
    )


def _minhash_delta_sql(
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> str:
    """Incremental-dedup oracle: the same signature/band derivation as
    _minhash_sql, but candidates are (delta doc x corpus doc) band
    collisions instead of a corpus self-join. Delta = odd doc_ids
    (near-dups in this corpus are within-source, so a source split
    would cross zero pairs; the parity split crosses ~half of them)."""
    a_lane, b_lane = minhash_lane_constants(num_hashes)
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"CAST(min((CAST({int(a_lane[i])} AS HUGEINT) * h + {int(b_lane[i])})"
        f" % {H60_MOD}) AS BIGINT) AS s{i}"
        for i in range(num_hashes)
    )
    band_list = ",\n           ".join(
        _h60_sql(
            "concat(" + ", ',', ".join(f"s{bi * rows + r}" for r in range(rows)) + ")"
        )
        for bi in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(sd.shl, sc.shl)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sd.shl, sc.shl)))"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_H} AS shl FROM documents
),
eh AS (SELECT doc_id, unnest(shl) AS h FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM eh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest(range(0, {bands})) AS band_id,
         unnest([{band_list}]) AS band_hash
  FROM sig
),
cand AS (
  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
  FROM banded d JOIN banded c
    ON d.band_id = c.band_id AND d.band_hash = c.band_hash
  WHERE d.doc_id % 2 = 1 AND c.doc_id % 2 = 0
)
SELECT cand.delta_id, cand.corpus_id, round({jac}, 6) AS jaccard
FROM cand
JOIN sh sd ON sd.doc_id = cand.delta_id
JOIN sh sc ON sc.doc_id = cand.corpus_id
WHERE {jac} >= {threshold}
"""


@q("minhash_delta_dedup", _minhash_delta_sql(threshold=0.3))
def minhash_delta_dedup_q(spark, sf_dir):
    """Incremental near-dup: odd doc_ids play an arriving batch,
    even doc_ids the already-indexed corpus. Only the batch is
    signed; candidates come from an equi-join of batch band buckets
    against the stored index (operators/dedup.build_minhash_index /
    minhash_delta_pairs) - per-batch cost is O(batch + collisions),
    independent of corpus size: the production dedup shape at 100 TB."""
    from ..operators.dedup import build_minhash_index, minhash_delta_pairs

    docs = read_table(spark, sf_dir, "documents")
    delta = docs.where(F.col("doc_id") % 2 == 1)
    return minhash_delta_pairs(
        delta,
        _corpus_half_index(spark, sf_dir),
        threshold=0.3,
        # delta shingles sliced from the corpus-cached build - no
        # second interpreted shingle pass for the batch side
        shingle_sets=_shingle_sets(spark, sf_dir).where(
            F.col("doc_id") % 2 == 1
        ),
    ).select(
        "delta_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    )


# Session artifact: the even-half MinHash index (the stored-corpus
# stand-in), checkpointed so repeat invocations (driver verify + bench
# in one session) neither rebuild the interpreted shingle transform nor
# leak new persisted frames.
def _corpus_half_index(spark, sf_dir):
    from ..operators.dedup import build_minhash_index

    def build():
        corpus = read_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % 2 == 0
        )
        # corpus shingles sliced from the SAME stored per-doc shingle
        # frame minhash_neardup consumes - the interpreted shingle
        # transform runs once per corpus across all minhash queries
        raw = build_minhash_index(
            corpus,
            persist=False,
            shingle_sets=_shingle_sets(spark, sf_dir).where(
                F.col("doc_id") % 2 == 0
            ),
        )
        return {
            name: frame.localCheckpoint(eager=True)
            for name, frame in raw.items()
        }

    return artifacts.get(
        spark, ("minhash_half_index", sf_dir, "documents"), build
    )


def _hashed_shingles_sql(n: int) -> str:
    """DuckDB mirror of shingle_array(n=n, hashed=True): distinct h60
    hashes of word n-gram spans, whole-text fallback for short docs."""
    grams = (
        f"list_transform(range(0, greatest(len({_TOKS}) - {n}, 0) + 1),"
        f" i -> array_to_string(({_TOKS})[i + 1:i + {n}], ' '))"
    )
    return f"list_distinct(list_transform({grams}, s -> {_h60_sql('s')}))"


_DUP_SPAN_SQL = f"""
WITH s AS (SELECT doc_id, {_hashed_shingles_sql(5)} AS sh FROM documents),
ex AS (SELECT doc_id, unnest(sh) AS h FROM s),
hot AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= 2),
dup AS (
  SELECT doc_id, count(*) AS dup_spans
  FROM ex JOIN hot USING (h) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(s.sh) AS BIGINT) AS n_spans,
       CAST(coalesce(d.dup_spans, 0) AS BIGINT) AS dup_spans,
       round(coalesce(d.dup_spans, 0) / len(s.sh), 6) AS dup_span_frac
FROM s LEFT JOIN dup d USING (doc_id)
"""


@q("dup_span_stats", _DUP_SPAN_SQL)
def dup_span_stats_q(spark, sf_dir):
    """Cross-document duplicated-span statistics (the signal behind
    substring-level training-data dedup, Lee et al. 2022): per doc, how
    many of its distinct 5-token spans appear in at least one OTHER
    doc (span identity = h60 hash; a doc's repeats of its own span
    count once). Plan: the shared zero-exchange shingle inverted index
    -> span document frequency -> semi-join back -> per-doc rollup;
    cost tracks corpus + span collisions, never doc-pairs."""
    from ..operators.dedup import shingles_exploded

    docs = read_table(spark, sf_dir, "documents")
    # ONE interpreted shingle build feeds all three consumers (df
    # aggregate, semi-join probe, per-doc span counts). Lazy
    # localCheckpoint, NOT persist: the blocks are released when the
    # frame is GC'd, so repeated invocations in one session (driver
    # verify + bench) don't accumulate CacheManager entries - the same
    # lifecycle as every other multi-consumer frame here.
    ex = shingles_exploded(
        docs, n=5, hashed=True, count_col="n_spans"
    ).localCheckpoint(eager=False)
    hot = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("shingle")
    )
    dup = (
        ex.join(hot, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("dup_spans"))
    )
    base = ex.select(
        "doc_id", F.col("n_spans").cast("long").alias("n_spans")
    ).distinct()
    return (
        base.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            F.round(
                F.coalesce("dup_spans", F.lit(0)) / F.col("n_spans"), 6
            ).alias("dup_span_frac"),
        )
    )


_EXACT_SUBSTR_SQL = """
WITH t AS MATERIALIZED (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> ''),
           x -> CAST('0x' || substr(md5('S:' || x), 1, 15) AS BIGINT))
           AS h
  FROM documents
),
sfx AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, h[i:] AS sfx
  FROM t, unnest(range(1, len(h) + 1)) AS u(i)
),
sa AS MATERIALIZED (
  SELECT doc_id, pos, sfx,
         row_number() OVER (ORDER BY sfx, doc_id, pos) AS sid
  FROM sfx
),
p AS MATERIALIZED (
  SELECT a.doc_id AS adoc, a.pos AS apos,
         b.doc_id AS bdoc, b.pos AS bpos,
         coalesce(
           -- nullif: DuckDB's list_position returns 0 (not NULL) when
           -- the value is absent, i.e. when every compared element
           -- matches - that case must fall through to the full
           -- shared length, not print -1
           nullif(list_position(
             list_transform(
               range(1, least(len(a.sfx), len(b.sfx)) + 1),
               i -> a.sfx[i] = b.sfx[i]),
             false), 0) - 1,
           least(len(a.sfx), len(b.sfx))) AS lcp
  FROM sa a JOIN sa b ON b.sid = a.sid + 1
),
lrs AS (
  SELECT doc_id, pos, max(lcp) AS dup_len
  FROM (SELECT adoc AS doc_id, apos AS pos, lcp FROM p
        UNION ALL SELECT bdoc, bpos, lcp FROM p)
  GROUP BY 1, 2
),
n AS (SELECT doc_id, len(h) AS n_tokens FROM t)
SELECT d.doc_id,
       CAST(coalesce(nn.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.dup_positions, 0) AS BIGINT) AS dup_positions,
       CAST(coalesce(s.max_dup_len, 0) AS BIGINT) AS max_dup_len,
       CASE WHEN coalesce(nn.n_tokens, 0) > 0
            THEN round(coalesce(s.dup_positions, 0) / nn.n_tokens, 6)
       END AS dup_pos_frac
FROM documents d
LEFT JOIN n nn USING (doc_id)
LEFT JOIN (
  SELECT doc_id,
         count(*) FILTER (WHERE dup_len >= 8) AS dup_positions,
         max(dup_len) AS max_dup_len
  FROM lrs GROUP BY 1
) s USING (doc_id)
"""


def _cached_eval_index(spark, sf_dir):
    """Session artifact: the broadcast src0 eval-side suffix index
    (operators/dedup.build_eval_suffix_index) - the decontamination
    arm's small frozen side. None when the eval side exceeds the
    broadcast token gate; consumers then use the merged-machinery
    path."""
    from ..operators.dedup import build_eval_suffix_index

    def build():
        docs = read_table(spark, sf_dir, "documents")
        idx = build_eval_suffix_index(
            docs.where(F.col("source") == "src0")
        )
        return spark.sparkContext.broadcast(idx) if idx is not None else None

    return artifacts.get(spark, ("eval_index", sf_dir, "documents"), build)


def _cached_suffix_frame(spark, sf_dir):
    """ONE merged side-tagged suffix ordering for the WHOLE
    suffix-grain family (r12 verdict #3: exact_substr_stats,
    longest_dup_substrings and exact_decontamination each paid their
    own ~7 s sort over the same corpus). Rows from source 'src0' (the
    benchmark stand-in eval set) carry _side = 1, everything else
    _side = 0, so the same frames serve both the corpus-wide
    dup-length derivation (all rows - duplication counts eval docs
    too, matching the all-documents oracle) and the train-vs-eval
    nearest-neighbor overlap scan. Since r14 this is the CHUNKED
    bounded-prefix machinery (operators/dedup.suffix_block_frames):
    the returned dict's slim blocks/members frames replace the
    slice-carrying sorted frame, cutting the family's dominant
    shuffle (~L/2 slice amplification) to ~w ranks per position."""
    from ..operators.dedup import suffix_block_frames

    def build():
        docs = read_table(spark, sf_dir, "documents")
        return suffix_block_frames(
            docs,
            id_col="doc_id",
            text_col="text",
            side=F.when(F.col("source") == "src0", F.lit(1)).otherwise(
                F.lit(0)
            ),
        )

    return artifacts.get(spark, ("suffix_frame", sf_dir, "documents"), build)


def _cached_suffix_lens(spark, sf_dir):
    """Session artifact: the per-position longest-duplicated-run frame
    (doc_id, pos, dup_len). The suffix ordering is the expensive stage,
    and TWO report queries consume it (exact_substr_stats +
    longest_dup_substrings), so a bench/driver session pays the
    ordering once per corpus (and the shared _cached_suffix_frame
    blocks also serve the decontamination arm)."""
    from ..operators.dedup import suffix_dup_lengths_from_blocks

    return artifacts.get(
        spark,
        ("suffix_lens", sf_dir, "documents"),
        lambda: suffix_dup_lengths_from_blocks(
            _cached_suffix_frame(spark, sf_dir), id_col="doc_id"
        ).localCheckpoint(eager=True),
    )


@q("exact_substr_stats", _EXACT_SUBSTR_SQL)
def exact_substr_stats_q(spark, sf_dir):
    """EXACT-substring duplication report (Lee et al. 2022's suffix
    grain, r11 verdict #4 - the capability the 5-token span index
    approximates): per document, how many token positions start a
    duplicated run of >= 8 tokens and how LONG the longest duplicated
    run is, read off the corpus-wide suffix-array order over h60
    token hashes (lrs(i) = max LCP with the two suffix-array
    neighbors - exact, because the suffix sharing the longest prefix
    is always SA-adjacent). The engine orders the suffixes once with
    the bounded-prefix machinery (operators/dedup.suffix_block_frames,
    memoized across the suffix-grain report family via
    _cached_suffix_lens and pinned to a pure-Python suffix array in
    tests/test_properties.py); the oracle sorts DuckDB lists natively
    and takes the same neighbor LCPs (operators/dedup.exact_substr_stats)."""
    from ..operators.dedup import exact_substr_stats

    docs = read_table(spark, sf_dir, "documents")
    return exact_substr_stats(
        docs, min_len=8, lens=_cached_suffix_lens(spark, sf_dir)
    )


_LONGEST_DUP_SQL = """
WITH t AS MATERIALIZED (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks,
         list_transform(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> ''),
           x -> CAST('0x' || substr(md5('S:' || x), 1, 15) AS BIGINT))
           AS h
  FROM documents
),
sfx AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, h[i:] AS sfx
  FROM t, unnest(range(1, len(h) + 1)) AS u(i)
),
sa AS MATERIALIZED (
  SELECT doc_id, pos, sfx,
         row_number() OVER (ORDER BY sfx, doc_id, pos) AS sid
  FROM sfx
),
p AS MATERIALIZED (
  SELECT a.doc_id AS adoc, a.pos AS apos,
         b.doc_id AS bdoc, b.pos AS bpos,
         coalesce(
           nullif(list_position(
             list_transform(
               range(1, least(len(a.sfx), len(b.sfx)) + 1),
               i -> a.sfx[i] = b.sfx[i]),
             false), 0) - 1,
           least(len(a.sfx), len(b.sfx))) AS lcp
  FROM sa a JOIN sa b ON b.sid = a.sid + 1
),
lrs AS (
  SELECT doc_id, pos, max(lcp) AS dup_len
  FROM (SELECT adoc AS doc_id, apos AS pos, lcp FROM p
        UNION ALL SELECT bdoc, bpos, lcp FROM p)
  GROUP BY 1, 2
),
lm AS (
  SELECT doc_id, pos, dup_len,
         lag(dup_len) OVER (PARTITION BY doc_id ORDER BY pos) AS prevl
  FROM lrs
),
runs AS (
  SELECT array_to_string(
           t.toks[l.pos + 1 : l.pos + l.dup_len], ' ') AS dup_text,
         l.dup_len
  FROM lm l JOIN t USING (doc_id)
  WHERE l.dup_len >= 8
    AND (l.prevl IS NULL OR l.prevl < l.dup_len + 1)
)
SELECT dup_text, CAST(dup_len AS BIGINT) AS dup_len,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM runs GROUP BY 1, 2
ORDER BY dup_len DESC, dup_text
LIMIT 20
"""


@q("longest_dup_substrings", _LONGEST_DUP_SQL)
def longest_dup_substrings_q(spark, sf_dir):
    """The corpus-level companion of exact_substr_stats: the 20
    LONGEST left-maximal duplicated runs as actual TEXT with their
    occurrence counts - what a curation owner reads to decide whether
    the duplication mass is boilerplate (license headers, navigation
    chrome) or organic. A position starts a left-maximal run when the
    previous position cannot extend it (dup_len(p-1) < dup_len(p)+1 -
    the standard maximal-repeat filter; without it every suffix of a
    long run would flood the report). Runs reconstruct by slicing the
    per-doc token array - the only corpus-scale additions over the
    memoized suffix frame are one per-doc lag window (parallel across
    docs) and one dimension-sized aggregate over the surviving runs.
    Deterministic top-20: grouped by (text, len), ordered by len then
    text."""
    lens = _cached_suffix_lens(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
        ).alias("_toks"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lm = lens.withColumn("prevl", F.lag("dup_len").over(w))
    runs = (
        lm.where(
            (F.col("dup_len") >= 8)
            & (
                F.col("prevl").isNull()
                | (F.col("prevl") < F.col("dup_len") + 1)
            )
        )
        .join(toks, "doc_id")
        .select(
            F.array_join(
                F.slice(
                    F.col("_toks"), F.col("pos") + 1, F.col("dup_len")
                ),
                " ",
            ).alias("dup_text"),
            F.col("dup_len").cast("long").alias("dup_len"),
        )
    )
    return (
        runs.groupBy("dup_text", "dup_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("dup_len"), "dup_text")
        .limit(20)
    )


_DUP_SPAN_REMOVAL_SQL = _dup_span_removal_sql()


@q("dup_span_removal", _DUP_SPAN_REMOVAL_SQL)
def dup_span_removal_q(spark, sf_dir):
    """Corpus rewritten with cross-document duplicated 5-token spans
    excised (Lee et al. 2022's remediation - the acting half of
    dup_span_stats' measurement): per doc, the cleaned text plus token
    accounting. Every occurrence of a span whose hash appears in >= 2
    distinct docs is dropped; tests/test_properties.py pins that
    re-measuring dup spans on the cleaned corpus finds (near) zero
    residual. Value-level oracle: the cleaned TEXT itself is compared,
    not just the counts."""
    from ..operators.dedup import remove_duplicated_spans

    docs = read_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, n=5, min_df=2)


@q("dup_span_removal_keepfirst", _dup_span_removal_keepfirst_sql())
def dup_span_removal_keepfirst_q(spark, sf_dir):
    """The KEEP-ONE form of span remediation (Lee et al.'s actual
    dedup semantics, vs dup_span_removal's scrub-everything form a
    contamination pass wants): each duplicated 5-token span's
    canonical first occurrence - smallest (doc_id, position) - stays
    in the corpus; every other occurrence is excised. One extra
    hash-keyed aggregate over remove-all (the canonical first rides
    the same groupBy that counts distinct docs); the cleaned TEXT is
    value-compared against the oracle's window-ranked derivation.
    Pytests pin keep-first vs remove-all semantics on a planted corpus
    and the removed-mass dominance invariant
    (operators/dedup.remove_duplicated_spans_keep_first)."""
    from ..operators.dedup import remove_duplicated_spans_keep_first

    docs = read_table(spark, sf_dir, "documents")
    return remove_duplicated_spans_keep_first(docs, n=5, min_df=2)


@q(
    "dup_span_removal_delta",
    f"SELECT * FROM ({_dup_span_removal_sql('documents')})"
    " WHERE doc_id % 2 = 1",
)
def dup_span_removal_delta_q(spark, sf_dir):
    """Incremental span removal: the odd-id half arrives as a batch and
    is cleaned against the stored even-half span index - O(batch) work
    plus one probe join, never a corpus re-scan. Equivalent by
    construction to cleaning the full corpus and keeping the batch rows
    (batch df + indexed corpus df = full-corpus df), which is exactly
    what the oracle computes - so the incremental path is value-level
    verified, cleaned text included."""
    from ..operators.dedup import (
        build_span_index,
        remove_duplicated_spans_delta,
    )

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    return remove_duplicated_spans_delta(
        batch, build_span_index(corpus), n=5, min_df=2
    )


_DECONTAM_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 3 THEN
           list_transform(
             list_distinct(list_transform(range(0, len(toks) - 2),
               i -> array_to_string(toks[i + 1:i + 3], ' '))),
             s -> {_h60_sql('s')})
         ELSE CAST([] AS BIGINT[]) END) AS h
  FROM t
),
bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 100 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM g JOIN bench USING (h)
WHERE g.doc_id % 100 <> 0
GROUP BY g.doc_id
"""


@q("decontamination_report", _DECONTAM_SQL)
def decontamination_report_q(spark, sf_dir):
    """Train/eval decontamination (the GPT-3 appendix-C discipline):
    training docs sharing any 3-gram with the benchmark slice
    (doc_id % 100 == 0 stands in for the eval suite) are flagged with
    their distinct overlapping-gram count. The benchmark gram-hash
    set broadcasts (eval suites are MBs); the corpus side is one
    zero-shuffle gram projection + broadcast join + doc-keyed
    aggregate - corpus text never shuffles."""
    from ..operators.textstats import ngram_contamination

    docs = read_table(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.where(F.col("doc_id") % 100 != 0),
        docs.where(F.col("doc_id") % 100 == 0),
        n=3,
    )


def _line_layout_col():
    """Deterministic multi-line re-layout of `text` used by the line
    dedup queries: normalized tokens regrouped into newline-joined
    10-token chunk lines. The synthetic corpus carries no newlines,
    but its planted cross-doc repeated spans become repeated LINES
    under a fixed chunk grid - real duplicate mass for the CCNet-style
    operator to find, with the layout itself a zero-shuffle
    projection both engines compute identically."""
    toks = F.filter(
        normalized_tokens(F.coalesce(F.col("text"), F.lit(""))),
        lambda w: F.length(w) > 0,
    )
    chunks = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(10.0)).cast("int") - 1,
            ),
            lambda i: F.array_join(
                F.slice(toks, i * F.lit(10) + 1, F.lit(10)), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_join(chunks, "\n")


def _line_dedup_sql(src: str = "documents") -> str:
    """WITH..SELECT mirror of dedup_lines over the chunk-line layout:
    same re-layout, keep-first by (doc_id, position) via a window,
    same split-based reconstruction (string_split of the joined
    layout reproduces Spark's split-of-empty => [''] edge exactly)."""
    return f"""
WITH t AS (
  SELECT doc_id, list_filter({_TOKS}, w -> len(w) > 0) AS toks
  FROM {src}
),
lay AS (
  SELECT doc_id, string_split(
    array_to_string(
      list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
        i -> array_to_string(toks[i * 10 + 1:i * 10 + 10], ' ')),
      chr(10)), chr(10)) AS lines
  FROM t
),
e AS (
  SELECT doc_id, unnest(lines) AS line,
         generate_subscripts(lines, 1) - 1 AS p
  FROM lay
),
marked AS (
  SELECT doc_id, p,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS rn,
         count(*) OVER (PARTITION BY line) AS cnt
  FROM e WHERE trim(line) <> ''
),
drops AS (
  SELECT doc_id, list(p) AS dps FROM marked
  WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id
),
j AS (
  SELECT lay.doc_id, lay.lines,
         coalesce(d.dps, CAST([] AS BIGINT[])) AS dps
  FROM lay LEFT JOIN drops d USING (doc_id)
)
SELECT doc_id,
       coalesce(array_to_string(
         list_transform(
           list_filter(list_zip(lines, range(0, len(lines))),
             z -> NOT list_contains(dps, z[2])),
           z -> CAST(z[1] AS VARCHAR)), chr(10)), '') AS text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(dps) AS BIGINT) AS n_lines_removed
FROM j
"""


@q("line_dedup", _line_dedup_sql())
def line_dedup_q(spark, sf_dir):
    """Corpus-wide CCNet-style line dedup over the chunk-line layout:
    every repeated line keeps its first (doc_id, position) occurrence
    and loses the rest; docs come back rebuilt with counts. The
    cleaned TEXT itself is value-compared against the oracle, not
    just the counts (the dup_span_removal discipline)."""
    from ..operators.dedup import dedup_lines

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", _line_layout_col().alias("text")
    )
    return dedup_lines(docs)


@q(
    "line_dedup_delta",
    f"SELECT * FROM ({_line_dedup_sql()}) WHERE doc_id >= "
    "(SELECT CAST(count(*) // 2 AS BIGINT) FROM documents)",
)
def line_dedup_delta_q(spark, sf_dir):
    """Incremental line dedup: the upper-id half arrives as a batch
    and is cleaned against the stored lower-half line index - one
    probe join, never a corpus re-scan. With every stored doc id
    below every arriving one, keep-first ordering makes this equal by
    construction to full-corpus dedup restricted to the batch rows,
    which is exactly what the oracle computes."""
    from ..operators.dedup import build_line_index, dedup_lines_delta

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", _line_layout_col().alias("text")
    )
    half = docs.count() // 2
    corpus = docs.where(F.col("doc_id") < half)
    batch = docs.where(F.col("doc_id") >= half)
    return dedup_lines_delta(batch, build_line_index(corpus))


def _fuzzy_decontam_sql(
    num_hashes: int = 32, bands: int = 8, threshold: float = 0.3
) -> str:
    """The _minhash_sql machinery split asymmetrically: train =
    doc_id % 10 != 0, eval = % 10 == 0; same lanes, bands and
    exact-Jaccard verify."""
    a_lane, b_lane = minhash_lane_constants(num_hashes)
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"CAST(min((CAST({int(a_lane[i])} AS HUGEINT) * h + {int(b_lane[i])})"
        f" % {H60_MOD}) AS BIGINT) AS s{i}"
        for i in range(num_hashes)
    )
    band_list = ",\n           ".join(
        _h60_sql(
            "concat("
            + ", ',', ".join(f"s{bi * rows + r}" for r in range(rows))
            + ")"
        )
        for bi in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(st.shl, se.shl)) AS DOUBLE)"
        " / len(list_distinct(list_concat(st.shl, se.shl)))"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_H} AS shl FROM documents
),
eh AS (SELECT doc_id, unnest(shl) AS h FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM eh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest(range(0, {bands})) AS band_id,
         unnest([{band_list}]) AS band_hash
  FROM sig
),
cand AS (
  SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
  FROM banded t JOIN banded e
    ON t.band_id = e.band_id AND t.band_hash = e.band_hash
  WHERE t.doc_id % 10 != 0 AND e.doc_id % 10 = 0
)
SELECT c.doc_id, c.eval_id, round({jac}, 6) AS jaccard
FROM cand c
JOIN sh st ON st.doc_id = c.doc_id
JOIN sh se ON se.doc_id = c.eval_id
WHERE {jac} >= {threshold}
"""


@q("fuzzy_decontamination", _fuzzy_decontam_sql())
def fuzzy_decontamination_q(spark, sf_dir):
    """FUZZY decontamination: training docs (doc_id % 10 != 0) whose
    exact shingle Jaccard vs any benchmark doc (doc_id % 10 == 0)
    reaches 0.3, candidates from MinHash + LSH banding with the EVAL
    side broadcast (eval suites are MBs - no corpus self-join ever
    forms). The near-dup complement of decontamination_report's
    verbatim n-gram overlap: paraphrased leaks share shingle mass
    without sharing any exact 3-gram window. Hash-green - lanes,
    band buckets and the verified jaccard all value-match the
    oracle."""
    from ..operators.dedup import minhash_contamination

    docs = read_table(spark, sf_dir, "documents")
    sets = _shingle_sets(spark, sf_dir)
    return minhash_contamination(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
        threshold=0.3,
        train_shingle_sets=sets.where(F.col("doc_id") % 10 != 0),
        eval_shingle_sets=sets.where(F.col("doc_id") % 10 == 0),
    ).select(
        "doc_id", "eval_id", F.round("jaccard", 6).alias("jaccard")
    )


_SOFT_DEDUP_SQL = f"""
WITH RECURSIVE s AS (
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
),
sz AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY component
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component,
       coalesce(z.cluster_size, 1) AS cluster_size,
       round(1.0 / coalesce(z.cluster_size, 1), 6) AS soft_weight
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
LEFT JOIN sz z ON c.component = z.component
"""


@q("soft_dedup_weights", _SOFT_DEDUP_SQL)
def soft_dedup_weights_q(spark, sf_dir):
    """SoftDeDup (He et al. 2024): instead of DELETING near-duplicates
    (neardup_keep) or keeping them at full weight, every document gets
    a sampling weight of 1/|its near-dup cluster| - duplicated content
    contributes one document's worth of gradient mass in total while
    no individual copy (and its unique tail tokens) is lost. Reuses
    the cached connected-components frame the neardup_groups /
    neardup_keep pair already builds, adds one component-keyed count,
    and joins both back to the corpus as BROADCASTS (the near-dup set
    is a small fraction of any real corpus; singletons never leave
    the scan: they default to weight 1.0 through the left-join
    coalesce)."""
    docs = read_table(spark, sf_dir, "documents")
    comp = _neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    labeled = comp.join(F.broadcast(sizes), "component").select(
        F.col("id").alias("doc_id"), "component", "cluster_size"
    )
    return docs.join(F.broadcast(labeled), "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
        F.round(
            F.lit(1.0) / F.coalesce("cluster_size", F.lit(1)), 6
        ).alias("soft_weight"),
    )


_SOURCE_OVERLAP_SQL = f"""
WITH l AS (
  SELECT DISTINCT source, h
  FROM (SELECT source, unnest({_SHINGLES_H}) AS h FROM documents)
),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM l GROUP BY source),
sh AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM l a JOIN l b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sh.source_a, sh.source_b, sh.n_shared,
       round(CAST(sh.n_shared AS DOUBLE)
             / (pa.n + pb.n - sh.n_shared), 6) AS shingle_jaccard
FROM sh
JOIN per pa ON pa.source = sh.source_a
JOIN per pb ON pb.source = sh.source_b
"""


def source_shingle_vocab(docs):
    """Distinct (source, shingle-hash) vocabulary frame - the shared
    build of source_overlap_matrix_q and the scale probe
    (scripts/curation_scale_probe.py), factored so the probe always
    measures the SHIPPED join shape.

    repartition(h) BEFORE the dedup (r15; the _order_items discipline,
    guide S2.4): HashPartitioning(h) satisfies the (source, h)
    distinct's clustering AND is the self-join key, so one vocab-mass
    exchange serves both - and the lazy checkpoint lets the query's
    three consumers (per-source counts, both self-join sides) read ONE
    materialization instead of re-running the explode + distinct each
    (the pre-r15 plan rebuilt the vocab three times)."""
    from ..operators.dedup import shingle_array

    return (
        docs.select(
            "source",
            F.explode(
                shingle_array(F.col("text"), hashed=True)
            ).alias("h"),
        )
        .repartition(F.col("h"))
        .dropDuplicates(["source", "h"])
        .localCheckpoint(eager=False)
    )


def source_shared_shingles(docs, sh=None):
    """(source_a, source_b, n_shared) over the shingle vocabularies -
    the hash-only equi-join both the query and the probe time. Pass
    `sh` to share one vocab materialization with other consumers."""
    if sh is None:
        sh = source_shingle_vocab(docs)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


@q("source_overlap_matrix", _SOURCE_OVERLAP_SQL)
def source_overlap_matrix_q(spark, sf_dir):
    """Cross-source contamination/provenance matrix: for every source
    pair, how many distinct 3-gram shingles they SHARE and the Jaccard
    of their shingle vocabularies - the report that catches one crawl
    re-ingesting another (or shared boilerplate) BEFORE doc-level
    dedup spends anything on it. Plan shape: one explode ->
    (source, shingle-hash) distinct, a shingle-hash equi-join that
    only ever moves 8-byte hashes (never text), a source-pair
    aggregate of a few rows, and the per-source vocab sizes broadcast
    back. Output is source-pair-cardinality-sized."""
    docs = read_table(spark, sf_dir, "documents")
    sh = source_shingle_vocab(docs)
    per = sh.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    shared = source_shared_shingles(docs, sh=sh)
    pa = per.select(
        F.col("source").alias("source_a"), F.col("n").alias("na")
    )
    pb = per.select(
        F.col("source").alias("source_b"), F.col("n").alias("nb")
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("shingle_jaccard"),
        )
    )


_SWEEP_THRESHOLDS = (0.02, 0.05, 0.1, 0.2, 0.3, 0.5)

_SWEEP_SQL = f"""
WITH s AS (
  SELECT doc_id, source, {_SHINGLES} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(list_concat(a.sh, b.sh))) AS j
  FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh)))
        >= {_SWEEP_THRESHOLDS[0]}
)
SELECT t AS threshold,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(j), 6) AS mean_jaccard
FROM pairs
CROSS JOIN unnest([{", ".join(map(str, _SWEEP_THRESHOLDS))}]) AS u(t)
WHERE j >= t
GROUP BY t
"""


@q("neardup_threshold_sweep", _SWEEP_SQL)
def neardup_threshold_sweep_q(spark, sf_dir):
    """Dedup-threshold sensitivity report: how many near-dup pairs
    (and at what mean similarity) each candidate Jaccard threshold
    would act on - the tuning table an operator reads BEFORE choosing
    the production cutoff, from ONE pass over the pair frame (the
    cached inverted-index build shared with ngram_jaccard_pairs /
    neardup_groups; the sweep itself is a 6-literal explode + one
    map-side-combined 6-group aggregate, no recomputation per
    threshold)."""
    pairs = _shared_pairs(spark, sf_dir)
    t = F.explode(
        F.array(*[F.lit(float(x)) for x in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    return (
        pairs.select(F.col("jaccard_exact").alias("j"), t)
        .where(F.col("j") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("j"), 6).alias("mean_jaccard"),
        )
    )


_DEDUP_RATE_SQL = (
    f"WITH RECURSIVE {_NEARDUP_COMP_CTES}\n"
    """SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(c.doc_id) AS BIGINT) AS n_clustered,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL
                          AND c.doc_id <> c.component
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removable,
       round(sum(CASE WHEN c.doc_id IS NOT NULL
                           AND c.doc_id <> c.component
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_rate
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
GROUP BY d.source"""
)


@q("dedup_rate_by_source", _DEDUP_RATE_SQL)
def dedup_rate_by_source_q(spark, sf_dir):
    """Per-source duplication datasheet: how many docs sit in a
    near-dup cluster and how many keep-one dedup would REMOVE
    (non-representatives, the neardup_keep losers), as a rate of the
    source's corpus share - the row a mixture owner reads next to
    tokenizer_fertility_by_source before trusting a source's raw
    token count (a source that is 30% duplicates contributes far
    fewer effective tokens than its size claims). Reuses the
    session-cached connected components; the component assignment is
    dup-count sized and broadcasts into a left join against the
    corpus, which never shuffles."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    comp = _neardup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    joined = docs.join(F.broadcast(comp), "doc_id", "left")
    removable = (
        F.col("component").isNotNull()
        & (F.col("doc_id") != F.col("component"))
    ).cast("int")
    return joined.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count("component").cast("long").alias("n_clustered"),
        F.sum(removable).cast("long").alias("n_removable"),
        F.round(
            F.sum(removable) / F.count("*"), 6
        ).alias("dup_rate"),
    )


_EXACT_DECONTAM_SQL = """
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS side,
         list_transform(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> ''),
           x -> CAST('0x' || substr(md5('S:' || x), 1, 15) AS BIGINT))
           AS h
  FROM documents
),
sfx AS MATERIALIZED (
  SELECT doc_id, side, i - 1 AS pos, h[i:] AS sfx
  FROM d, unnest(range(1, len(h) + 1)) AS u(i)
),
sa AS MATERIALIZED (
  SELECT *, row_number() OVER (ORDER BY sfx, side, doc_id, pos) AS sid
  FROM sfx
),
scan AS MATERIALIZED (
  SELECT doc_id, side, pos, sfx,
         last_value(CASE WHEN side = 1 THEN sid END IGNORE NULLS)
           OVER (ORDER BY sid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS pe,
         first_value(CASE WHEN side = 1 THEN sid END IGNORE NULLS)
           OVER (ORDER BY sid
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS ne
  FROM sa
),
ov AS (
  SELECT s.doc_id, s.pos,
         greatest(
           CASE WHEN p.sfx IS NULL THEN 0 ELSE coalesce(
             nullif(list_position(
               list_transform(
                 range(1, least(len(s.sfx), len(p.sfx)) + 1),
                 i -> s.sfx[i] = p.sfx[i]),
               false), 0) - 1,
             least(len(s.sfx), len(p.sfx))) END,
           CASE WHEN n.sfx IS NULL THEN 0 ELSE coalesce(
             nullif(list_position(
               list_transform(
                 range(1, least(len(s.sfx), len(n.sfx)) + 1),
                 i -> s.sfx[i] = n.sfx[i]),
               false), 0) - 1,
             least(len(s.sfx), len(n.sfx))) END
         ) AS eval_len
  FROM scan s
  LEFT JOIN sa p ON p.sid = s.pe
  LEFT JOIN sa n ON n.sid = s.ne
  WHERE s.side = 0
),
agg AS (
  SELECT doc_id,
         count(*) FILTER (WHERE eval_len >= 8)
           AS contaminated_positions,
         max(eval_len) AS max_eval_run
  FROM ov GROUP BY 1
)
SELECT dd.doc_id, dd.source,
       CAST(len(dd.h) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.contaminated_positions, 0) AS BIGINT)
         AS contaminated_positions,
       CAST(coalesce(a.max_eval_run, 0) AS BIGINT) AS max_eval_run
FROM d dd LEFT JOIN agg a USING (doc_id)
WHERE dd.side = 0
"""


@q("exact_decontamination", _EXACT_DECONTAM_SQL)
def exact_decontamination_q(spark, sf_dir):
    """The EXACT-substring arm of the decontamination triad (verbatim
    n-gram / fuzzy MinHash / semantic cosine already exist): per TRAIN
    document, the longest token run shared VERBATIM with any eval doc
    (source 'src0', the benchmark stand-in) and the count of positions
    starting a shared run of >= 8 tokens. n-gram decontamination says
    whether ANY overlap exists; this says how LONG the longest quoted
    passage is - the number a release review debates (Lee et al.
    2022's train-test overlap measurement). One merged suffix
    ordering over both sides; a train suffix's max-LCP against the
    whole eval set is attained at the nearest eval group in either
    direction of the order, derived as two running min-since-last-
    eval scans over the slim boundary-LCP frame (never train x eval
    pairs; operators/dedup.suffix_eval_overlap_from_blocks - pinned
    against a pure-Python merged suffix array in
    tests/test_properties.py). The ordering rides the family-shared
    _cached_suffix_frame (r12 verdict #3) - a bench/driver session
    pays it once for this query, exact_substr_stats AND
    longest_dup_substrings."""
    from ..operators.dedup import (
        suffix_eval_overlap_from_blocks,
        suffix_eval_stats_probe,
    )

    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("source") != "src0")
    eval_bc = _cached_eval_index(spark, sf_dir)
    if eval_bc is not None:
        # r15: probe the broadcast eval index (the gate's O(batch)
        # machinery) instead of scanning the family block frames -
        # same aggregates, zero eval-arm shuffle, and the report no
        # longer re-reads corpus-mass member rows per execution.
        # Value-identical (differential-tested + oracle-checked);
        # oversized eval sides fall back to the merged machinery.
        per_doc = suffix_eval_stats_probe(train, eval_bc, run_threshold=8)
    else:
        lens = suffix_eval_overlap_from_blocks(
            _cached_suffix_frame(spark, sf_dir), id_col="doc_id"
        )
        per_doc = lens.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count(F.when(F.col("eval_len") >= 8, 1))
            .cast("long")
            .alias("contaminated_positions"),
            F.max("eval_len").cast("long").alias("max_eval_run"),
        )
    return train.select("doc_id", "source").join(
        per_doc, "doc_id", "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("contaminated_positions", F.lit(0))
        .cast("long")
        .alias("contaminated_positions"),
        F.coalesce("max_eval_run", F.lit(0))
        .cast("long")
        .alias("max_eval_run"),
    )
