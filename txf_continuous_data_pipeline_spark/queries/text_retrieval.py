"""Documents-table RETRIEVAL queries (split from queries/text.py,
r12): BM25, hybrid RRF, phrase search, late interaction, rerank,
TF-IDF/hash embeddings, DSIR. Pure move - behavior, oracles, and
registration names unchanged."""

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
    _TOKS,
    _h60_sql,
    _hash_feats,
)


_TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.tok, t.tf,
         round(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY round(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) DESC,
                    t.tok
         ) AS rn
  FROM tf t JOIN df d USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tf, tfidf FROM scored WHERE rn <= 3
"""


@q("tfidf_top_terms", _TFIDF_SQL)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1))).

    Plan: one explode -> term-count aggregate hash-partitioned on
    (doc_id, tok); the document-frequency table derives FROM the term
    counts (no second scan) and re-shuffles only the (tok, df) pairs;
    the corpus size joins in as a broadcast scalar, so the ranking
    window's doc_id shuffle is the only fact-scale exchange after the
    aggregate. Rounding before ranking keeps the window order identical
    to the oracle's."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(normalized_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "tfidf")
    )


_DSIR_SQL = f"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS tgt, {_TOKS} AS toks FROM documents
),
p AS (
  SELECT doc_id, tgt,
         unnest(toks[1 : len(toks) - 1]) AS w1,
         unnest(toks[2 : len(toks)]) AS w2
  FROM t
),
bi AS (
  SELECT w1, w2, count(*) AS c2_raw,
         count(*) FILTER (WHERE tgt) AS c2_tgt
  FROM p GROUP BY 1, 2
),
u AS (SELECT tgt, unnest(toks) AS w FROM t),
uni AS (
  SELECT w, count(*) AS c1_raw,
         count(*) FILTER (WHERE tgt) AS c1_tgt
  FROM u GROUP BY 1
),
v AS (
  SELECT count(*) AS v_raw,
         count(*) FILTER (WHERE c1_tgt > 0) AS v_tgt
  FROM uni
),
lw AS (
  SELECT p.doc_id,
         avg(ln((c2_tgt + 1.0) / (c1_tgt + v.v_tgt))
             - ln((c2_raw + 1.0) / (c1_raw + v.v_raw))) AS logw
  FROM p
  JOIN bi USING (w1, w2)
  JOIN uni ON uni.w = p.w1
  CROSS JOIN v
  GROUP BY p.doc_id
)
SELECT doc_id,
       round(logw, 6) AS log_weight,
       round(logw - ln(-ln(
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) + 0.5) / 4294967296.0)), 6) AS gumbel_key
FROM lw
ORDER BY 3 DESC, doc_id
LIMIT 40
"""


@q("dsir_resample", _DSIR_SQL)
def dsir_resample_q(spark, sf_dir):
    """DSIR-shaped importance resampling (Xie et al. 2023): importance
    weights from a target-vs-raw bigram-LM log ratio (target = the
    English subset, raw = the whole corpus), selection by Gumbel top-k
    with md5-deterministic noise - the composition of bigram_logprob's
    model shape with mixture_sample's auditable-sampling discipline.
    tests/test_properties.py pins that the selected set's perplexity
    under the target LM drops vs the candidate pool."""
    from ..operators.textstats import dsir_resample

    return dsir_resample(
        read_table(spark, sf_dir, "documents"),
        target_pred=F.col("lang") == "en",
        n_keep=40,
    )


def _hash_embed_sql(dim: int = 64) -> str:
    """DuckDB mirror of hashing_trick_embed: per-bucket occurrence
    counts over the h60-hashed token stream, L2-normalized."""
    toks_h = f"list_transform({_TOKS}, t -> {_h60_sql('t')} % {dim})"
    raw = (
        f"list_transform(range(0, {dim}), i -> "
        f"CAST(len(list_filter(hs, h -> h = i)) AS DOUBLE))"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks_h} AS hs FROM documents),
v AS (SELECT doc_id, {raw} AS raw FROM t),
n AS (SELECT doc_id, raw,
             sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
      FROM v),
emb AS (SELECT doc_id,
               list_transform(raw, x -> round(x / nrm, 6)) AS embedding
        FROM n)
SELECT doc_id, i - 1 AS pos, e AS component
FROM (SELECT doc_id, unnest(embedding) AS e,
             generate_subscripts(embedding, 1) AS i
      FROM emb)
WHERE e != 0
"""


@q("text_hash_embeddings", _hash_embed_sql())
def text_hash_embeddings_q(spark, sf_dir):
    """Hashing-trick featurization: documents -> 64-dim L2-normalized
    count vectors (h60(token) mod dim buckets) - the model-free bridge
    from the text table to every vector operator (LSH near-dup, IVF,
    k-means, SemDeDup). Deterministic across engines via the h60
    family, so even the embedding VALUES are oracle-checked - in long
    (doc_id, pos, component) form with zeros elided, keeping the
    driver comparison scalar-typed. The feature frame itself is the
    corpus-cached _hash_feats shared with the classifier pair - one
    materialization serves all three consumers."""
    emb = _hash_feats(spark, sf_dir, dim=64)
    return (
        emb.select(
            "doc_id", F.posexplode("embedding").alias("pos", "component")
        )
        .where(F.col("component") != 0)
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "component")
    )


def _maxsim_sql(dim: int = 8, n_q: int = 8, n_c: int = 16, k: int = 3) -> str:
    """Oracle for late_interaction_topk: the same md5/ascii token
    vectors and the dim-term cosine written out as SQL arithmetic."""
    qcomp = ", ".join(
        f"(ascii(substring(md5(tok), {j + 1}, 1)) - 75.5) AS v{j}"
        for j in range(dim)
    )
    dotp = " + ".join(f"c.v{j} * q.v{j}" for j in range(dim))
    nrm = " + ".join(f"v{j} * v{j}" for j in range(dim))
    return f"""
WITH toks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY ord, tok) AS rk
  FROM (
    SELECT doc_id, tok, min(pos) AS ord FROM (
      SELECT doc_id, unnest({_TOKS}) AS tok,
             generate_subscripts({_TOKS}, 1) AS pos
      FROM documents
    ) WHERE tok != '' GROUP BY doc_id, tok
  )
),
vecs AS (
  SELECT doc_id, rk, {qcomp}, sqrt({nrm.replace("v", "x")}) AS nrm
  FROM (SELECT doc_id, rk, tok,
               {", ".join(f"(ascii(substring(md5(tok), {j + 1}, 1)) - 75.5) AS x{j}" for j in range(dim))}
        FROM toks) t
),
qv AS (SELECT * FROM vecs WHERE doc_id < 3 AND rk <= {n_q}),
cv AS (SELECT * FROM vecs WHERE doc_id >= 3 AND rk <= {n_c}),
best AS (
  SELECT c.doc_id, q.doc_id AS q_id, q.rk AS q_rk,
         max(({dotp}) / (c.nrm * q.nrm)) AS b
  FROM cv c CROSS JOIN qv q
  GROUP BY c.doc_id, q.doc_id, q.rk
),
scored AS (
  SELECT q_id, doc_id, round(sum(b), 6) AS score
  FROM best GROUP BY q_id, doc_id
)
SELECT q_id, doc_id, score, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


@q("late_interaction_topk", _maxsim_sql())
def late_interaction_topk_q(spark, sf_dir):
    """ColBERT-style late-interaction retrieval over documents: token
    tables (first 8 anchor / 16 corpus distinct tokens with
    deterministic md5/ascii pseudo-embeddings - the swap-in seam for a
    real encoder), MaxSim scoring (per query token, max cosine over
    candidate tokens; sum over query tokens), top-3 per anchor.
    Everything JVM-side; anchor tokens broadcast; score rounded before
    ranking so summation order cannot flip ranks."""
    from ..operators.textstats import doc_token_vectors, maxsim_topk

    docs = read_table(spark, sf_dir, "documents")
    anchors = doc_token_vectors(
        docs.where(F.col("doc_id") < 3), n_tokens=8
    )
    corpus = doc_token_vectors(
        docs.where(F.col("doc_id") >= 3), n_tokens=16
    )
    return maxsim_topk(anchors, corpus, k=3)


def _retrieve_rerank_sql(
    dim: int = 8, n_q: int = 8, n_c: int = 16, short: int = 20, k: int = 3
) -> str:
    """Oracle for retrieve_rerank_topk: pooled-mean first-stage
    cosine shortlist, MaxSim rerank restricted to it - the _maxsim_sql
    CTEs with a shortlist semi-join spliced between the stages."""
    comp = ", ".join(
        f"(ascii(substring(md5(tok), {j + 1}, 1)) - 75.5) AS x{j}"
        for j in range(dim)
    )
    pool = ", ".join(f"avg(x{j}) AS p{j}" for j in range(dim))
    pdot = " + ".join(f"c.p{j} * q.p{j}" for j in range(dim))
    pnrm_c = " + ".join(f"c.p{j} * c.p{j}" for j in range(dim))
    pnrm_q = " + ".join(f"q.p{j} * q.p{j}" for j in range(dim))
    tdot = " + ".join(f"c.x{j} * q.x{j}" for j in range(dim))
    tnrm = " + ".join(f"x{j} * x{j}" for j in range(dim))
    return f"""
WITH toks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY ord, tok) AS rk
  FROM (
    SELECT doc_id, tok, min(pos) AS ord FROM (
      SELECT doc_id, unnest({_TOKS}) AS tok,
             generate_subscripts({_TOKS}, 1) AS pos
      FROM documents
    ) WHERE tok != '' GROUP BY doc_id, tok
  )
),
vecs AS (
  SELECT doc_id, rk, {comp}, 0 AS pad FROM toks
),
nvecs AS (SELECT *, sqrt({tnrm}) AS nrm FROM vecs),
qtok AS (SELECT * FROM nvecs WHERE doc_id < 3 AND rk <= {n_q}),
ctok AS (SELECT * FROM nvecs WHERE doc_id >= 3 AND rk <= {n_c}),
qpool AS (SELECT doc_id, {pool} FROM qtok GROUP BY doc_id),
cpool AS (SELECT doc_id, {pool} FROM ctok GROUP BY doc_id),
shortlist AS (
  SELECT q_id, doc_id FROM (
    SELECT q.doc_id AS q_id, c.doc_id,
           row_number() OVER (
             PARTITION BY q.doc_id
             ORDER BY round(({pdot}) / (sqrt({pnrm_c}) * sqrt({pnrm_q})), 6)
                      DESC, c.doc_id) AS srn
    FROM cpool c CROSS JOIN qpool q
  ) WHERE srn <= {short}
),
best AS (
  SELECT c.doc_id, q.doc_id AS q_id, q.rk AS q_rk,
         max(({tdot}) / (c.nrm * q.nrm)) AS b
  FROM ctok c
  JOIN shortlist s ON s.doc_id = c.doc_id
  JOIN qtok q ON q.doc_id = s.q_id
  GROUP BY c.doc_id, q.doc_id, q.rk
),
scored AS (
  SELECT q_id, doc_id, round(sum(b), 6) AS score
  FROM best GROUP BY q_id, doc_id
)
SELECT q_id, doc_id, score, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


@q("retrieve_rerank_topk", _retrieve_rerank_sql())
def retrieve_rerank_topk_q(spark, sf_dir):
    """The production retrieval shape end to end: stage 1 ranks the
    corpus by POOLED (mean token vector) cosine and keeps a 20-doc
    shortlist per anchor - the cheap single-vector pass an ANN index
    accelerates at scale (ivf_topk drops into this seam; exact here so
    the whole composition stays value-checkable) - and stage 2 reranks
    ONLY the shortlist with token-level MaxSim. The rerank's cost is
    bounded at n_anchors * 20 candidates regardless of corpus size -
    the property that makes late interaction affordable at 100 TB."""
    from ..operators.textstats import doc_token_vectors

    dim = 8
    docs = read_table(spark, sf_dir, "documents")
    qtok = doc_token_vectors(docs.where(F.col("doc_id") < 3), n_tokens=8)
    ctok = doc_token_vectors(
        docs.where(F.col("doc_id") >= 3), n_tokens=16
    )
    pool = [F.avg(f"v{j}").alias(f"p{j}") for j in range(dim)]
    qpool = qtok.groupBy("doc_id").agg(*pool)
    cpool = ctok.groupBy("doc_id").agg(*pool)
    qp = qpool.select(
        F.col("doc_id").alias("q_id"),
        *[F.col(f"p{j}").alias(f"qp{j}") for j in range(dim)],
    )
    pdot, cn, qn = None, None, None
    for j in range(dim):
        t = F.col(f"p{j}") * F.col(f"qp{j}")
        pdot = t if pdot is None else pdot + t
        c2 = F.col(f"p{j}") * F.col(f"p{j}")
        cn = c2 if cn is None else cn + c2
        q2 = F.col(f"qp{j}") * F.col(f"qp{j}")
        qn = q2 if qn is None else qn + q2
    pcos = F.round(pdot / (F.sqrt(cn) * F.sqrt(qn)), 6)
    sw = Window.partitionBy("q_id").orderBy(
        F.desc("_pcos"), F.col("doc_id")
    )
    shortlist = (
        cpool.crossJoin(F.broadcast(qp))
        .withColumn("_pcos", pcos)
        .withColumn("srn", F.row_number().over(sw))
        .where(F.col("srn") <= 20)
        .select("q_id", "doc_id")
    )
    q = qtok.select(
        F.col("doc_id").alias("q_id"),
        F.col("tok").alias("q_tok"),
        *[F.col(f"v{j}").alias(f"q{j}") for j in range(dim)],
        F.col("nrm").alias("q_nrm"),
    )
    tdot = None
    for j in range(dim):
        t = F.col(f"v{j}") * F.col(f"q{j}")
        tdot = t if tdot is None else tdot + t
    tcos = tdot / (F.col("nrm") * F.col("q_nrm"))
    cand_toks = ctok.join(F.broadcast(shortlist), "doc_id")
    per_qtok = (
        cand_toks.join(F.broadcast(q), "q_id")
        .select("doc_id", "q_id", "q_tok", tcos.alias("_cos"))
        .groupBy("doc_id", "q_id", "q_tok")
        .agg(F.max("_cos").alias("_best"))
    )
    scored = per_qtok.groupBy("q_id", "doc_id").agg(
        F.round(F.sum("_best"), 6).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("q_id", "doc_id", "score", "rn")
    )


def _bm25_sql(k: int = 3, k1: float = 1.2, b: float = 0.75) -> str:
    """WITH..SELECT mirror of bm25_topk over doc_id<5 queries vs the
    doc_id>=5 corpus: same Lucene idf, same 6dp-round-before-rank."""
    return f"""
WITH cd AS (
  SELECT doc_id, list_filter({_TOKS}, w -> len(w) > 0) AS toks
  FROM documents WHERE doc_id >= 5
),
tk AS (SELECT doc_id, unnest(toks) AS t FROM cd),
postings AS (
  SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY doc_id, t
),
dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
),
qt AS (
  SELECT doc_id AS q_id,
         unnest(list_distinct(list_filter({_TOKS}, w -> len(w) > 0)))
           AS t
  FROM documents WHERE doc_id < 5
),
cand AS (
  SELECT p.doc_id, p.t, p.tf, q.q_id
  FROM postings p JOIN qt q ON p.t = q.t
),
dfreq AS (
  SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM cand GROUP BY t
),
scored AS (
  SELECT c.q_id, c.doc_id,
         round(sum(
           ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
           * (c.tf * ({k1} + 1.0))
           / (c.tf + {k1} * (1 - {b} + {b} * d.dl / s.avgdl))
         ), 6) AS score
  FROM cand c
  JOIN dfreq f ON c.t = f.t
  JOIN dl d ON c.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY c.q_id, c.doc_id
)
SELECT q_id, doc_id, score, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


@q("bm25_topk", _bm25_sql())
def bm25_topk_q(spark, sf_dir):
    """Sparse lexical retrieval: BM25 top-3 corpus docs per query
    (doc_id < 5 stand in as the query set) - the sparse twin of
    knn_join_bruteforce and the other half of hybrid retrieval.
    Postings and doc lengths are one explode/groupBy each; the query
    term table broadcasts and PRUNES postings before document
    frequencies are computed, so nothing corpus-wide aggregates over
    terms the queries never mention. Scores round to 6dp BEFORE the
    rank so tie order is engine-identical."""
    from ..operators.textstats import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("q_id"), F.col("text").alias("q_text")
    )
    corpus = docs.where(F.col("doc_id") >= 5)
    return bm25_topk(corpus, queries, k=3)


def _hybrid_rrf_sql(k_each: int = 10, k_out: int = 5, c: int = 60) -> str:
    """Reciprocal-rank fusion of the dense (cosine top-k over
    embeddings, the _KNN_SQL shape) and sparse (BM25 top-k) rankings,
    joined on (query id, item id) - vec_id and doc_id index the same
    items in the synthetic corpus."""
    dense = f"""
  SELECT q_id, vec_id AS id, rn FROM (
    SELECT q.vec_id AS q_id, cvec.vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(
               CAST(cvec.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])), 6) DESC, cvec.vec_id
           ) AS rn
    FROM embeddings cvec
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id < 5) q
    WHERE cvec.vec_id >= 5
  ) WHERE rn <= {k_each}"""
    return f"""
WITH dense AS ({dense}),
sparse AS (
  SELECT q_id, doc_id AS id, rn
  FROM ({_bm25_sql(k=k_each)})
),
fused AS (
  SELECT coalesce(d.q_id, s.q_id) AS q_id,
         coalesce(d.id, s.id) AS id,
         round(coalesce(1.0 / ({c} + d.rn), 0)
               + coalesce(1.0 / ({c} + s.rn), 0), 6) AS rrf
  FROM dense d FULL JOIN sparse s
    ON d.q_id = s.q_id AND d.id = s.id
)
SELECT q_id, id, rrf, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY rrf DESC, id) AS rn
  FROM fused
) WHERE rn <= {k_out}
"""


@q("hybrid_rrf_topk", _hybrid_rrf_sql())
def hybrid_rrf_topk_q(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): the dense cosine top-10 and the sparse BM25 top-10 per
    query fuse as sum(1/(60+rank)) on (query, item) and the top-5
    fused items come back - the standard production shape where
    lexical recall patches dense misses and vice versa. Both input
    rankings are the ALREADY-ORACLE-CHECKED operators
    (knn_join_bruteforce, bm25_topk) at k=10; fusion itself is one
    full outer join on two k*|queries|-row frames - trivially
    broadcastable at any scale."""
    from ..operators.similarity import knn_join_bruteforce
    from ..operators.textstats import bm25_topk

    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents")
    dense = knn_join_bruteforce(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        ),
        emb.where(F.col("vec_id") >= 5),
        k=10,
    ).select("q_id", F.col("vec_id").alias("id"), F.col("rn").alias("_rd"))
    sparse = bm25_topk(
        docs.where(F.col("doc_id") >= 5),
        docs.where(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("q_id"), F.col("text").alias("q_text")
        ),
        k=10,
    ).select("q_id", F.col("doc_id").alias("id"), F.col("rn").alias("_rs"))
    fused = (
        dense.join(sparse, ["q_id", "id"], "full")
        .select(
            "q_id",
            "id",
            F.round(
                F.coalesce(1.0 / (F.lit(60) + F.col("_rd")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (F.lit(60) + F.col("_rs")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("rrf"), F.col("id"))
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "id", "rrf", "rn")
    )


# Session artifact: the BM25 index, written under the application's own
# artifact dir - no cross-session sharing, so none of the rename/lock
# choreography the shared IVFPQ path needs.
def _bm25_index_path(spark, sf_dir):
    from ..operators.textstats import write_bm25_index

    def build():
        path = artifacts.artifact_dir(spark, "bm25_index")
        docs = read_table(spark, sf_dir, "documents")
        write_bm25_index(docs.where(F.col("doc_id") >= 5), path)
        return path

    return artifacts.get(spark, ("bm25_index", sf_dir, "documents"), build)


@q("bm25_index_topk", _bm25_sql())
def bm25_index_topk_q(spark, sf_dir):
    """BM25 served from the PERSISTED postings/dl index - the at-rest
    serving form. Same scoring tail as bm25_topk, so the inline
    oracle applies verbatim; the corpus pass is replaced by two
    parquet scans with the broadcast query-term prune pushed into the
    postings read. Append == rebuild and from-index == inline are
    pytest-pinned (tests/test_retrieval.py)."""
    from ..operators.textstats import bm25_topk_from_index

    docs = read_table(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("q_id"), F.col("text").alias("q_text")
    )
    return bm25_topk_from_index(
        spark, _bm25_index_path(spark, sf_dir), queries, k=3
    )


def _phrase_search_sql() -> str:
    """Positional-postings mirror of phrase_search: 0-based token
    positions via generate_subscripts, anchor votes pos - off, an
    anchor is a hit when every phrase offset is present."""
    return f"""
WITH cd AS (
  SELECT doc_id, list_filter({_TOKS}, w -> len(w) > 0) AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(toks) AS t,
         CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
  FROM cd
),
q AS (
  SELECT doc_id AS q_id, toks[1:3] AS ph FROM cd WHERE doc_id < 5
),
qt AS (
  SELECT q_id, CAST(len(ph) AS BIGINT) AS qlen, unnest(ph) AS t,
         CAST(generate_subscripts(ph, 1) - 1 AS BIGINT) AS off
  FROM q
),
anchors AS (
  SELECT qt.q_id, p.doc_id, p.pos - qt.off AS anchor
  FROM pos p JOIN qt ON p.t = qt.t
  WHERE p.pos >= qt.off
  GROUP BY qt.q_id, p.doc_id, p.pos - qt.off, qt.qlen
  HAVING count(DISTINCT qt.off) = qt.qlen
)
SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       min(anchor) AS first_pos
FROM anchors GROUP BY q_id, doc_id
"""


@q("phrase_search", _phrase_search_sql())
def phrase_search_q(spark, sf_dir):
    """Exact phrase search: the first three tokens of each doc_id < 5
    document become a phrase query against the WHOLE corpus (so every
    query is guaranteed its self-hit), answered from positional
    postings - one posexplode projection, broadcast phrase terms with
    in-phrase offsets, anchor-vote aggregate. Occurrence counts and
    first match position are value-checked; overlapping occurrences
    count separately (pinned with planted text in
    tests/test_retrieval.py)."""
    from ..operators.textstats import phrase_search

    docs = read_table(spark, sf_dir, "documents")
    phrases = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(
                F.filter(
                    normalized_tokens(F.col("text")),
                    lambda w: F.length(w) > 0,
                ),
                1,
                3,
            ),
            " ",
        ).alias("q_text"),
    )
    return phrase_search(docs, phrases)


def _tfidf_embed_sql(dim: int = 64) -> str:
    """Mirror of tfidf_hash_embed: bucket tf per doc, dim-row df
    table, sublinear tf x smoothed idf, L2-normalize, long form."""
    toks_h = f"list_transform({_TOKS}, t -> {_h60_sql('t')} % {dim})"
    return f"""
WITH t AS (SELECT doc_id, unnest({toks_h}) AS pos FROM documents),
tf AS (
  SELECT doc_id, pos, CAST(count(*) AS DOUBLE) AS tf
  FROM t GROUP BY doc_id, pos
),
dfq AS (SELECT pos, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY pos),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
w AS (
  SELECT tf.doc_id, tf.pos,
         (1.0 + ln(tf.tf)) * (ln((nd.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0)
           AS w
  FROM tf JOIN dfq ON tf.pos = dfq.pos CROSS JOIN nd
),
m AS (
  SELECT doc_id,
         map_from_entries(list(struct_pack(k := pos, v := w))) AS mp
  FROM w GROUP BY doc_id
),
v AS (
  SELECT doc_id,
         list_transform(range(0, {dim}),
                        i -> coalesce(map_extract(mp, i)[1],
                                      CAST(0.0 AS DOUBLE))) AS raw
  FROM m
),
n AS (SELECT doc_id, raw,
             sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
      FROM v)
SELECT doc_id, i - 1 AS pos, round(e / nrm, 6) AS component
FROM (SELECT doc_id, nrm, unnest(raw) AS e,
             generate_subscripts(raw, 1) AS i
      FROM n)
WHERE e != 0
"""


@q("tfidf_hash_embeddings", _tfidf_embed_sql())
def tfidf_hash_embeddings_q(spark, sf_dir):
    """Hashed TF-IDF document vectors: the hashing-trick buckets
    reweighted by sublinear tf x smoothed idf and L2-normalized - the
    classic lexical vectorizer next to the raw-count baseline. The
    hash-to-dim trick makes the idf table a CONSTANT dim-row broadcast
    (no vocab-scale join, unlike word-keyed TF-IDF); values are
    oracle-checked end to end in long (doc_id, pos, component) form
    with zeros elided."""
    from ..operators.textstats import tfidf_hash_embed

    emb = tfidf_hash_embed(
        read_table(spark, sf_dir, "documents"), dim=64
    )
    return (
        emb.select(
            "doc_id", F.posexplode("embedding").alias("pos", "component")
        )
        .where(F.col("component") != 0)
        .select(
            "doc_id", F.col("pos").cast("long").alias("pos"), "component"
        )
    )
