"""Embeddings-table extension queries: similarity search.

The LSH oracle SQL is generated from the SAME seeded numpy planes as the
Spark operator, so even the approximate path is oracle-checked (it is
deterministic given the planes). Cosines are rounded to 6 dp on both
sides before ranking/filtering so FP summation-order noise cannot flip
a comparison."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    brute_force_topk,
    cosine,
    embedding_neardup_pairs,
    ivf_topk,
    knn_join_bruteforce,
    lsh_ann_pairs,
)
from ..sources import read_table
from . import artifacts
from .registry import q

_COS_Q0 = """
list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
"""

_TOPK_SQL = f"""
SELECT e.vec_id, round({_COS_Q0}, 6) AS cos_sim
FROM embeddings e
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id != 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
"""


@q("cosine_topk_bruteforce", _TOPK_SQL)
def cosine_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-10 neighbors of vec_id=0. The query vector is a
    plan literal (broadcast), the scan is one parallel pass + top-k."""
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return brute_force_topk(emb, list(qvec), k=10, exclude_ids=(0,))


_KNN_SQL = """
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM embeddings c
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
  WHERE c.vec_id >= 5
)
SELECT q_id, vec_id, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 3
"""


@q("knn_join_bruteforce", _KNN_SQL)
def knn_join_bruteforce_q(spark, sf_dir):
    """Exact k-NN join: 5 query vectors (vec_id < 5) x corpus
    (vec_id >= 5), top-3 each. Query side broadcast; per-query ranking
    window. The LSH variant below approximates exactly this."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return knn_join_bruteforce(queries, corpus, k=3)


def _lsh_oracle_sql(
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    min_cosine: float = 0.2,
) -> str:
    """Mirror of operators.similarity.lsh_ann_pairs, planes inlined."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))
    width = n_planes // bands
    bit_terms = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(float(x)) for x in planes[i])}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    chunk_list = ", ".join(
        f"(sig >> {i * width}) & {(1 << width) - 1}" for i in range(bands)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, CAST({bit_terms} AS BIGINT) AS sig FROM embeddings
),
banded AS (
  SELECT vec_id, embedding, i - 1 AS band, chunk
  FROM (
    SELECT vec_id, embedding,
           unnest([{chunk_list}]) AS chunk,
           generate_subscripts([{chunk_list}], 1) AS i
    FROM sigs
  )
),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id < b.vec_id
)
SELECT p.id_a, p.id_b,
       round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])), 6) AS cos_sim
FROM pairs p
JOIN embeddings ea ON ea.vec_id = p.id_a
JOIN embeddings eb ON eb.vec_id = p.id_b
WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                   CAST(eb.embedding AS DOUBLE[])), 6) >= {min_cosine}
"""


@q("lsh_ann_pairs", _lsh_oracle_sql(n_planes=32, bands=4))
def lsh_ann_pairs_q(spark, sf_dir):
    """Random-hyperplane LSH ANN candidate pairs (32 planes, 4 bands of
    8 bits -> 256 buckets/band, so random collisions are ~1/256 and the
    candidate set stays near-linear), exact-cosine re-ranked, kept at
    cos >= 0.2. Deterministic given the seeded planes, so fully
    oracle-checked despite being 'approximate'."""
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_ann_pairs(emb, n_planes=32, bands=4, min_cosine=0.2)


_IVF_SQL = """
WITH cent AS (
  SELECT cluster_id, list(v ORDER BY pos) AS centroid
  FROM (
    SELECT label AS cluster_id, i - 1 AS pos, avg(CAST(x AS DOUBLE)) AS v
    FROM (
      SELECT label, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )
    GROUP BY label, i
  )
  GROUP BY cluster_id
),
q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id < 5
),
qa AS (
  SELECT q_id, q_vec, cluster_id FROM (
    SELECT q.q_id, q.q_vec, c.cluster_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_cosine_similarity(q.q_vec, c.centroid), 6)
                        DESC, c.cluster_id DESC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn = 1
),
cand AS (
  SELECT qa.q_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      qa.q_vec), 6) AS cos_sim
  FROM embeddings e JOIN qa ON e.label = qa.cluster_id
  WHERE e.vec_id >= 5
)
SELECT q_id, vec_id, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, vec_id) AS rn
  FROM cand
) WHERE rn <= 3
"""


@q("ivf_topk", _IVF_SQL)
def ivf_topk_q(spark, sf_dir):
    """IVF-probed ANN: per-cluster mean centroids (label = stored
    partition), queries probe only their nearest centroid's cluster -
    the scale path where knn_join_bruteforce is the exact baseline.
    Deterministic given the clustering, so fully oracle-checked."""
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_pred=lambda c: c < 5, k=3)


@q(
    "embedding_neardup_pairs",
    _lsh_oracle_sql(n_planes=56, bands=7, min_cosine=0.2),
)
def embedding_neardup_pairs_q(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked on LSH band buckets
    (VERDICT r04 #3: the earlier label block was fixed-cardinality, so
    one hot label degraded toward n^2 within the label at 100 TB; the
    bucket key's cardinality grows with the corpus). 56 planes in 7
    bands of 8 bits - more bands than lsh_ann_pairs at the same width,
    because near-dup wants recall over candidate thrift, but never
    narrower bands: 8-bit buckets keep the random-pair candidate
    fraction ~bands/256 ~ 3% (and the 56-bit signature never touches
    the int64 sign bit either engine). Deterministic given the planes,
    so fully oracle-checked."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, min_cosine=0.2, n_planes=56, bands=7
    )


_CENTROID_SQL = """
SELECT label, i - 1 AS pos, round(avg(CAST(x AS DOUBLE)), 6) AS centroid_val
FROM (
  SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
GROUP BY label, i
"""


@q("label_centroids", _CENTROID_SQL)
def label_centroids(spark, sf_dir):
    """Per-label centroid (the training step of an IVF index):
    posexplode -> (label, pos) mean. One shuffle on (label, pos)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid_val"))
    )


_NORM_SQL = """
SELECT vec_id, label,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
FROM embeddings
"""


@q("embedding_norms", _NORM_SQL)
def embedding_norms(spark, sf_dir):
    """L2 norms (zip_with/aggregate stay JVM-side; no UDF)."""
    emb = read_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import norm

    return emb.select(
        "vec_id", "label", F.round(norm(F.col("embedding")), 6).alias("l2_norm")
    )


def _fixed_centroids(k: int = 4, dim: int = 64, seed: int = 7) -> list:
    """Deterministic literal centroids shared by the Spark query and its
    DuckDB oracle (same pattern as the seeded LSH planes): rounded to 6dp
    so the two sides inline the IDENTICAL doubles."""
    rng = np.random.RandomState(seed)
    return [
        (c, [round(float(x), 6) for x in rng.normal(size=dim)])
        for c in range(k)
    ]


def _kmeans_assign_sql(centroids: list) -> str:
    rows = ", ".join(
        f"({c}, [{', '.join(repr(x) for x in v)}]::DOUBLE[])"
        for c, v in centroids
    )
    # list_distance = sqrt(sum of squares); sqrt is monotonic, so the
    # argmin matches the Spark side's squared-distance argmin exactly.
    return f"""
WITH cent(cluster_id, centroid) AS (VALUES {rows}),
scored AS (
  SELECT e.vec_id, e.label, c.cluster_id,
         list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid) AS d
  FROM embeddings e CROSS JOIN cent c
)
SELECT vec_id, label, cluster_id FROM (
  SELECT vec_id, label, cluster_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
  FROM scored
) WHERE rn = 1
"""


@q("kmeans_assign", _kmeans_assign_sql(_fixed_centroids()))
def kmeans_assign_q(spark, sf_dir):
    """Single-pass nearest-centroid assignment against fixed literal
    centroids - the scoring half of k-means (and of IVF cell routing) as
    a pure zero-shuffle JVM projection, trivially SQL-expressible, so the
    driver can hash-check it (integer-only output: no FP compare risk).
    The iterative trainer (kmeans_clusters below) stays pytest-verified
    differentially; this covers its assignment step with a full oracle."""
    from ..operators.similarity import kmeans_assign

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, _fixed_centroids()).select(
        "vec_id", "label", "cluster_id"
    )


def _kmeans_lloyd_sql(k: int = 8, n_iter: int = 5) -> str:
    """Unrolled Lloyd oracle (VERDICT r9 #3, the _pagerank_sql
    discipline): kmeans_fit's init is deterministic (the k rows with
    the smallest md5(vec_id) - DuckDB computes the identical hex) and
    the registered query runs a FIXED max_iter, so each iteration is
    one generated assign-CTE (argmin by distance, ties to the smaller
    cluster id - list_distance is sqrt of the Spark side's squared
    distance, and sqrt is monotonic) plus one recompute-CTE
    (per-cluster per-position mean; an emptied cluster keeps its
    previous centroid via the LEFT JOIN coalesce, kmeans_fit's rule).
    The registered queries pin tol=0.0, so the trainer runs EXACTLY
    n_iter iterations (a tol>0 early stop is a NEAR-fixpoint whose
    extra unrolled iterations could flip a boundary vector; with
    tol=0.0 the loop breaks only on an exact fixpoint, where extra
    iterations are true no-ops)."""
    steps = []
    for t in range(1, n_iter + 1):
        steps.append(f"""
a{t} AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.v, c.cent), c.cid) AS rn
    FROM emb e CROSS JOIN cents{t - 1} c
  ) WHERE rn = 1
),
m{t} AS MATERIALIZED (
  SELECT cid, list(mv ORDER BY pos) AS cent FROM (
    SELECT cid, pos, avg(x) AS mv FROM (
      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      FROM a{t}
    ) GROUP BY cid, pos
  ) GROUP BY cid
),
cents{t} AS MATERIALIZED (
  SELECT p.cid, coalesce(m.cent, p.cent) AS cent
  FROM cents{t - 1} p LEFT JOIN m{t} m USING (cid)
)""")
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
         AS INTEGER) AS cid,
         v AS cent
  FROM emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {k}
),{",".join(steps)},
fin AS (
  SELECT vec_id, cid, d FROM (
    SELECT e.vec_id, c.cid, list_distance(e.v, c.cent) AS d,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.v, c.cent), c.cid) AS rn
    FROM emb e CROSS JOIN cents{n_iter} c
  ) WHERE rn = 1
)
SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n,
       round(avg(d * d), 6) AS mean_sq_dist
FROM fin GROUP BY cid ORDER BY cid
"""


@q("kmeans_clusters", _kmeans_lloyd_sql())
def kmeans_clusters(spark, sf_dir):
    """Learned IVF partitions: distributed Lloyd's k-means (k=8, the
    real trainer behind the label-centroid stand-in), then per-cluster
    population + mean within-cluster squared distance. Fully
    oracle-checked since r10: the deterministic md5 init + fixed
    iteration count make the whole fit SQL-expressible as unrolled
    assign/recompute CTEs (_kmeans_lloyd_sql); tests/test_kmeans.py
    additionally pins the trainer differentially against a
    single-node numpy Lloyd with the identical init."""
    from ..operators.similarity import kmeans_fit, kmeans_score_fast

    emb = read_table(spark, sf_dir, "embeddings")
    # tol=0.0: run EXACTLY max_iter iterations (break only on an exact
    # fixpoint, where extra unrolled iterations are true no-ops) - a
    # tol=1e-6 early stop is a NEAR-fixpoint, and the oracle's extra
    # unrolled iterations could flip a boundary vector (r10 review)
    cents, _, _ = kmeans_fit(emb, 8, max_iter=5, tol=0.0)
    return (
        kmeans_score_fast(emb, cents)
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("sq_dist"), 6).alias("mean_sq_dist"),
        )
        .orderBy("cluster_id")
    )


N_SEM_CELLS = 16
_SEM_TAU = 0.3


def _semdedup_sql(k: int = N_SEM_CELLS, tau: float = _SEM_TAU) -> str:
    return f"""
WITH cent AS (
  SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS centroid
  FROM embeddings WHERE vec_id < {k}
),
assigned AS (
  SELECT vec_id, label, embedding, cluster_id FROM (
    SELECT e.vec_id, e.label, e.embedding, c.cluster_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    c.centroid), c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6)
        >= {tau}
)
SELECT vec_id, label, cluster_id FROM assigned
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


# Session artifact: the seeded-cell assignment frame - three consumers
# per invocation AND repeat invocations per session (driver verify +
# bench) - checkpointed once instead of persisting a new frame per call.
def _sem_assigned(spark, sf_dir):
    from ..operators.similarity import kmeans_assign

    def build():
        emb = read_table(spark, sf_dir, "embeddings")
        seeds = (
            emb.where(F.col("vec_id") < N_SEM_CELLS)
            .select("vec_id", "embedding")
            .collect()
        )
        cents = sorted(
            (int(r.vec_id), [float(x) for x in r.embedding]) for r in seeds
        )
        return kmeans_assign(emb, cents).localCheckpoint(eager=True)

    return artifacts.get(
        spark, ("sem_assigned", sf_dir, "embeddings"), build
    )


@q("semantic_dedup_keep", _semdedup_sql())
def semantic_dedup_keep_q(spark, sf_dir):
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023):
    cluster embeddings, find within-cluster cosine pairs >= tau, and
    drop every vector that has a smaller-id neighbor above tau - the
    deterministic id-ordered variant of SemDeDup's
    keep-one-per-duplicate-group.

    The coarse cells are seeded by the first N_SEM_CELLS data vectors
    (collected k*dim values - the same trick as kmeans_fit's init), so
    the cells actually partition the data (random literal centroids
    degenerate to ONE cell on this corpus - an unblocked n^2) while
    staying exactly expressible in SQL. Assignment uses the
    sequential-sum expression form (kmeans_assign): its fold order
    matches DuckDB's list_distance exactly, where numpy's pairwise
    summation (kmeans_assign_fast) flips near-tie argmins. Scale
    shape: assignment is a zero-shuffle projection, PERSISTED for its
    three consumers; pair enumeration is an equi-join on cluster_id;
    the drop set applies as a broadcast anti-join."""
    assigned = _sem_assigned(spark, sf_dir)
    pairs = embedding_neardup_pairs(
        assigned, block_col="cluster_id", min_cosine=_SEM_TAU
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return assigned.join(
        F.broadcast(dropped), "vec_id", "left_anti"
    ).select("vec_id", "label", "cluster_id")


_IVF_P2_SQL = """
WITH cent AS (
  SELECT cluster_id, list(v ORDER BY pos) AS centroid
  FROM (
    SELECT label AS cluster_id, i - 1 AS pos, avg(CAST(x AS DOUBLE)) AS v
    FROM (
      SELECT label, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )
    GROUP BY label, i
  )
  GROUP BY cluster_id
),
q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id < 5
),
qa AS (
  SELECT q_id, q_vec, cluster_id FROM (
    SELECT q.q_id, q.q_vec, c.cluster_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_cosine_similarity(q.q_vec, c.centroid), 6)
                        DESC, c.cluster_id DESC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
cand AS (
  SELECT qa.q_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      qa.q_vec), 6) AS cos_sim
  FROM embeddings e JOIN qa ON e.label = qa.cluster_id
  WHERE e.vec_id >= 5
)
SELECT q_id, vec_id, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, vec_id) AS rn
  FROM cand
) WHERE rn <= 3
"""


@q("ivf_topk_probe2", _IVF_P2_SQL)
def ivf_topk_probe2_q(spark, sf_dir):
    """ivf_topk with nprobe=2 - each query scores its TWO nearest
    cells' vectors (the recall/cost dial the r3 verdict asked for),
    still deterministic and fully oracle-checked: the probe set is a
    top-2 window over the same centroid ranking, the candidate join
    stays an equi-join."""
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_pred=lambda c: c < 5, k=3, nprobe=2)


_INT8_SQL = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
  FROM embeddings
),
s AS (
  SELECT vec_id, vv,
         list_max(list_transform(vv, x -> abs(x))) / 127.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, scale,
         list_transform(vv, x -> CAST(coalesce(round(x / nullif(scale, 0)),
                                               0) AS INT)) AS qvec
  FROM s
)
SELECT vec_id, scale,
       CAST(i - 1 AS BIGINT) AS pos, qv AS qval
FROM (SELECT vec_id, scale, unnest(qvec) AS qv,
             generate_subscripts(qvec, 1) AS i
      FROM q)
WHERE qv != 0
"""


@q("embedding_int8_quantize", _INT8_SQL)
def embedding_int8_quantize(spark, sf_dir):
    """Scalar int8 quantization of the embeddings table, long form
    (vec_id, scale, pos, qval) with zero codes elided - the same
    scalar-typed driver-compare shape as text_hash_embeddings. Integer
    codes compare exactly; only the per-vector scale is a float
    (isclose). The 100-TB story: 4x storage cut for the ANN corpus,
    probes on codes, top-k rescored at full precision."""
    from ..operators.similarity import quantize_int8

    emb = read_table(spark, sf_dir, "embeddings")
    qt = quantize_int8(emb)
    return (
        qt.select(
            "vec_id",
            "scale",
            F.posexplode("qvec").alias("pos", "qval"),
        )
        .where(F.col("qval") != 0)
        .select(
            "vec_id", "scale", F.col("pos").cast("long").alias("pos"),
            "qval",
        )
    )


# ----------------------------------------------------------------- PQ

_PQ_M = 8
_PQ_K = 16

# Shared CTE prefix: data-seeded codebook (the 16 lowest vec_ids
# contribute one codeword per 8-dim subspace - the semantic_dedup
# seeding trick, which keeps a genuinely learned-codebook operator
# oracle-expressible) and the per-(vector, subspace) nearest-codeword
# assignment, squared-L2 with lower-index tie-break.
_PQ_BASE_SQL = f"""
WITH seeds AS (
  SELECT vec_id AS j,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < {_PQ_K}
),
ss AS (SELECT unnest(range({_PQ_M})) AS s),
cw AS (
  SELECT j, s, list_slice(v, s*8 + 1, s*8 + 8) AS c
  FROM seeds CROSS JOIN ss
),
esub AS (
  SELECT vec_id, s,
         list_slice(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                    s*8 + 1, s*8 + 8) AS ev
  FROM embeddings CROSS JOIN ss
),
best AS (
  SELECT vec_id, s, j, ev FROM (
    SELECT e.vec_id, e.s, c.j, e.ev,
           row_number() OVER (
             PARTITION BY e.vec_id, e.s
             ORDER BY list_distance(e.ev, c.c), c.j) AS rn
    FROM esub e JOIN cw c ON e.s = c.s
  ) WHERE rn = 1
)
"""

_PQ_CODES_SQL = (
    _PQ_BASE_SQL
    + """
SELECT vec_id, CAST(s AS INT) AS s, CAST(j AS INT) AS code FROM best
"""
)

def _pq_adc_sql(q_where: str, c_where: str) -> str:
    """ADC top-3 oracle, parameterized on the query/corpus predicates
    (shared by the list-closure and query-table ADC variants)."""
    return (
        _PQ_BASE_SQL
        + f""",
qv AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE {q_where}
),
adc AS (
  SELECT b.vec_id, q.q_id,
         round(sum(list_sum(list_transform(
                 list_zip(list_slice(q.v, b.s*8 + 1, b.s*8 + 8), c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])))), 6)
           AS adc_dist
  FROM best b
  JOIN cw c ON b.s = c.s AND b.j = c.j
  CROSS JOIN qv q
  WHERE {c_where}
  GROUP BY b.vec_id, q.q_id
)
SELECT q_id, vec_id, adc_dist, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
  FROM adc
) WHERE rn <= 3
"""
    )


_PQ_ADC_SQL = _pq_adc_sql("vec_id < 5", "b.vec_id >= 5")


def _pq_seed_codebook(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    seeds = (
        emb.where(F.col("vec_id") < _PQ_K)
        .select("vec_id", "embedding")
        .collect()
    )
    return sorted(
        (int(r.vec_id), [float(x) for x in r.embedding]) for r in seeds
    )


@q("pq_codes", _PQ_CODES_SQL)
def pq_codes_q(spark, sf_dir):
    """Product-quantization codes for the whole embeddings table, long
    form (vec_id, s, code) - integer-exact driver compare. m=8
    subspaces x k=16 data-seeded codewords: 4 bits per subspace, a 64x
    compression over float64 beyond int8's 4x (Jegou et al. 2011,
     'Product Quantization for Nearest Neighbor Search'). Encoding is
    one zero-shuffle Arrow projection; the codebook (k rows) rides in
    the UDF closure."""
    from ..operators.similarity import pq_encode

    emb = read_table(spark, sf_dir, "embeddings")
    coded = pq_encode(emb, _pq_seed_codebook(spark, sf_dir), m=_PQ_M)
    return coded.select(
        "vec_id", F.posexplode("codes").alias("s", "code")
    )


@q("pq_adc_topk", _PQ_ADC_SQL)
def pq_adc_topk_q(spark, sf_dir):
    """Asymmetric-distance top-3 per query over PQ codes (queries =
    vec_id < 5, corpus = the rest): per-candidate distance is m table
    lookups into a per-query LUT, never a dim-wide multiply - the PQ
    search contract that lets a 100-TB corpus serve ANN from codes in
    memory. ivf_topk's output shape (rounded distance, id tie-break);
    the oracle recomputes the same sum from the assignment CTE."""
    from ..operators.similarity import pq_adc_topk, pq_encode

    emb = read_table(spark, sf_dir, "embeddings")
    cb = _pq_seed_codebook(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    codes = pq_encode(corpus, cb, m=_PQ_M)
    queries_ = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    ]
    return pq_adc_topk(
        codes.select("vec_id", "codes"), queries_, cb, m=_PQ_M, k_top=3
    )


@q(
    "pq_adc_topk_qtable",
    _pq_adc_sql("vec_id % 100 = 0", "b.vec_id % 100 != 0"),
)
def pq_adc_topk_qtable_q(spark, sf_dir):
    """ADC top-3 with the queries as a TABLE (every 100th vector) -
    the serving shape when probe vectors number 10^4+ and no longer fit
    a Python-list closure: per-query LUTs are one Arrow pass over the
    query table, broadcast-joined to the codes, ADC fully JVM-side (m
    lookups per candidate via zip_with over the flattened LUT).
    tests/test_pq.py pins output equality with the closure form."""
    from ..operators.similarity import pq_adc_topk_join, pq_encode

    emb = read_table(spark, sf_dir, "embeddings")
    cb = _pq_seed_codebook(spark, sf_dir)
    is_q = F.col("vec_id") % 100 == 0
    codes = pq_encode(emb.where(~is_q), cb, m=_PQ_M)
    queries_df = emb.where(is_q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return pq_adc_topk_join(
        codes.select("vec_id", "codes"), queries_df, cb, m=_PQ_M, k_top=3
    )


def _pq_train_ctes(
    n_iter: int, *, m: int = 8, k: int = 16, d_sub: int = 8,
    prefix: str = "p",
) -> str:
    """CTE chain replicating pq_train (the _kmeans_lloyd_sql unrolling
    discipline applied to joint per-subspace Lloyd): md5-seeded
    full-dim codebook, then per iteration one assignment CTE (argmin
    per (vector, subspace), ties to the lower codeword - list_distance
    is sqrt of the Spark side's squared distance, sqrt monotonic) and
    one recompute CTE (per-(codeword, global position) mean; a cell no
    vector maps to keeps its previous value via the LEFT JOIN
    coalesce, pq_train's rule). Ends with {prefix}cw: the trained
    per-subspace codeword slices. The registered queries pin tol=0.0
    (exactly n_iter iterations; only an exact fixpoint breaks early,
    where extra unrolled iterations are true no-ops)."""
    parts = [f"""
{prefix}ev AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
{prefix}ss AS (SELECT unnest(range({m})) AS s),
{prefix}esub AS MATERIALIZED (
  SELECT vec_id, s,
         list_slice(v, s*{d_sub} + 1, s*{d_sub} + {d_sub}) AS ev
  FROM {prefix}ev CROSS JOIN {prefix}ss
),
{prefix}cb0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
         AS INTEGER) AS j, v
  FROM {prefix}ev
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {k}
)"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
{prefix}w{t - 1} AS MATERIALIZED (
  SELECT j, s, list_slice(v, s*{d_sub} + 1, s*{d_sub} + {d_sub}) AS c
  FROM {prefix}cb{t - 1} CROSS JOIN {prefix}ss
),
{prefix}a{t} AS MATERIALIZED (
  SELECT vec_id, s, j, ev FROM (
    SELECT e.vec_id, e.s, c.j, e.ev,
           row_number() OVER (PARTITION BY e.vec_id, e.s
             ORDER BY list_distance(e.ev, c.c), c.j) AS rn
    FROM {prefix}esub e JOIN {prefix}w{t - 1} c ON e.s = c.s
  ) WHERE rn = 1
),
{prefix}m{t} AS MATERIALIZED (
  SELECT j, s*{d_sub} + p AS pos, avg(x) AS mv FROM (
    SELECT j, s, unnest(ev) AS x,
           generate_subscripts(ev, 1) - 1 AS p
    FROM {prefix}a{t}
  ) GROUP BY j, s, p
),
{prefix}cb{t} AS MATERIALIZED (
  SELECT pv.j, list(coalesce(m.mv, pv.x) ORDER BY pv.pos) AS v FROM (
    SELECT j, unnest(v) AS x, generate_subscripts(v, 1) - 1 AS pos
    FROM {prefix}cb{t - 1}
  ) pv LEFT JOIN {prefix}m{t} m ON pv.j = m.j AND pv.pos = m.pos
  GROUP BY pv.j
)""")
    parts.append(f""",
{prefix}cw AS MATERIALIZED (
  SELECT j, s, list_slice(v, s*{d_sub} + 1, s*{d_sub} + {d_sub}) AS c
  FROM {prefix}cb{n_iter} CROSS JOIN {prefix}ss
)""")
    return "".join(parts)


_PQ_TRAINED_SQL = f"""
WITH {_pq_train_ctes(3)},
fbest AS (
  SELECT vec_id, s, j FROM (
    SELECT e.vec_id, e.s, c.j,
           row_number() OVER (PARTITION BY e.vec_id, e.s
             ORDER BY list_distance(e.ev, c.c), c.j) AS rn
    FROM pesub e JOIN pcw c ON e.s = c.s
  ) WHERE rn = 1
)
SELECT CAST(s AS INT) AS s, CAST(j AS INT) AS code,
       CAST(count(*) AS BIGINT) AS n
FROM fbest GROUP BY s, j ORDER BY s, code
"""


@q("pq_trained_summary", _PQ_TRAINED_SQL)
def pq_trained_summary_q(spark, sf_dir):
    """Learned-codebook PQ (the real trainer behind the seeded
    stand-in): joint per-subspace Lloyd (one corpus pass per iteration
    for ALL subspaces), then the per-subspace code histogram of the
    trained encoder. Fully oracle-checked since r10: the md5 init +
    fixed max_iter unroll into assignment/recompute CTEs
    (_pq_train_ctes - the _kmeans_lloyd_sql discipline, with subspace
    as a COLUMN rather than an unrolled axis, so the SQL stays
    iteration-count-sized); tests/test_pq.py additionally pins the
    trainer differentially against a single-node numpy PQ with the
    identical deterministic init."""
    from ..operators.similarity import pq_encode, pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    # tol=0.0: exact fixed-iteration contract (see kmeans_clusters)
    cb, _, _ = pq_train(emb, m=_PQ_M, k=_PQ_K, max_iter=3, tol=0.0)
    coded = pq_encode(emb, cb, m=_PQ_M)
    return (
        coded.select(F.posexplode("codes").alias("s", "code"))
        .groupBy("s", "code")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("s", "code")
    )


def _cent_values_sql(centroids: list) -> str:
    return ", ".join(
        f"({c}, [{', '.join(repr(x) for x in v)}]::DOUBLE[])"
        for c, v in centroids
    )


# IVF x PQ: coarse cells = the fixed literal centroids (kmeans_assign's
# oracle trick), PQ = the data-seeded codebook; the whole composed plan
# (route -> probe -> ADC -> shortlist -> exact rescore) is deterministic
# and therefore fully oracle-expressible.
_IVFPQ_SQL = (
    _PQ_BASE_SQL
    + f""",
cent(cluster_id, centroid) AS (VALUES {_cent_values_sql(_fixed_centroids())}),
cc AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    c.centroid),
                      c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id >= 5
  ) WHERE rn = 1
),
qp AS (
  SELECT q_id, cluster_id FROM (
    SELECT e.vec_id AS q_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    c.centroid),
                      c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < 5
  ) WHERE rn <= 2
),
qv AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 5
),
adc AS (
  SELECT b.vec_id, qp.q_id,
         round(sum(list_sum(list_transform(
                 list_zip(list_slice(q.v, b.s*8 + 1, b.s*8 + 8), c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS adc_dist
  FROM best b
  JOIN cc ON cc.vec_id = b.vec_id
  JOIN qp ON qp.cluster_id = cc.cluster_id
  JOIN qv q ON q.q_id = qp.q_id
  JOIN cw c ON b.s = c.s AND b.j = c.j
  GROUP BY b.vec_id, qp.q_id
),
sl AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= 20
),
exact AS (
  SELECT s.q_id, s.vec_id,
         round(list_sum(list_transform(
           list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                    q.v),
           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sq_dist
  FROM sl s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN qv q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sq_dist, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY sq_dist, vec_id) AS rn
  FROM exact
) WHERE rn <= 3
"""
)


@q("ivfpq_topk", _IVFPQ_SQL)
def ivfpq_topk_q(spark, sf_dir):
    """The composed IVF x PQ serving plan (Jegou et al. 2011's IVFADC):
    corpus vectors route into 4 coarse cells and live there as PQ
    codes; each query (vec_id < 5) probes its 2 nearest cells, ADC
    ranks a 20-candidate shortlist from codes alone, exact squared-L2
    rescores only the shortlist, top-3 kept. Full-precision data is
    touched only by the shortlist rescore - the property that lets a
    100-TB corpus serve ANN from memory-resident codes.
    tests/test_recall.py pins recall monotonicity in nprobe."""
    from ..operators.similarity import ivfpq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        _fixed_centroids(),
        _pq_seed_codebook(spark, sf_dir),
        m=_PQ_M,
        query_pred=lambda c: c < 5,
        k=3,
        nprobe=2,
        shortlist=20,
    )


# Session artifact: the path of the persisted IVFPQ index. The index
# itself is shared across sessions at a location derived from the
# embeddings' content stamp (ADVICE r7); the store keys the path but
# never deletes it.
def _shared_index_path(prefix: str, sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile

    stamp = (sf_dir, artifacts.table_stamp(sf_dir, "embeddings"))
    return os.path.join(
        tempfile.gettempdir(),
        prefix + hashlib.md5(repr(stamp).encode()).hexdigest()[:12],
    )


def _publish_shared_index(spark, path: str, build) -> None:
    """Build-once, publish-atomically protocol for an on-disk index
    SHARED across sessions (ADVICE r7/r8): delegate to the factored
    operators/similarity.publish_index (r11 - the retrain path needed
    the same lock+rename machinery with replace=True, so the protocol
    now lives once, operator-side). Semantics unchanged: `build(staging)`
    writes the complete index into a per-applicationId staging dir,
    atomically renamed to `path` under the O_EXCL ownership-token lock;
    a published index (_SUCCESS at the root) is never rewritten."""
    from ..operators.similarity import publish_index

    publish_index(spark, path, build, replace=False)


def _ivfpq_index_path(spark, sf_dir):
    from ..operators.similarity import write_ivfpq_index

    def build():
        # Deterministic on-disk location per corpus stamp (ADVICE r7):
        # concurrency safety lives in _publish_shared_index.
        path = _shared_index_path("spark_graft_ivfpq_", sf_dir)

        def write(staging):
            emb = read_table(spark, sf_dir, "embeddings")
            write_ivfpq_index(
                emb.where(F.col("vec_id") >= 5),
                _fixed_centroids(),
                _pq_seed_codebook(spark, sf_dir),
                staging,
                m=_PQ_M,
            )

        _publish_shared_index(spark, path, write)
        return path

    return artifacts.get(spark, ("ivfpq_index", sf_dir, "embeddings"), build)


@q("ivfpq_index_topk", _IVFPQ_SQL)
def ivfpq_index_topk_q(spark, sf_dir):
    """IVFADC served from the PERSISTED cluster_id-partitioned index
    instead of an in-memory encode - identical semantics to ivfpq_topk
    (hence the same value-level oracle), but the probed cell set
    becomes a partition filter so the scan reads ONLY
    ~nprobe/n_cells of the stored bytes (tests/test_pq.py pins the
    PartitionFilters pruning). The at-rest index + pruned-scan serving
    is the actual 100-TB deployment shape; the in-memory twin is its
    encode-on-the-fly oracle."""
    from ..operators.similarity import ivfpq_topk_from_index

    emb = read_table(spark, sf_dir, "embeddings")
    qraw = emb.where(F.col("vec_id") < 5)
    return ivfpq_topk_from_index(
        spark,
        _ivfpq_index_path(spark, sf_dir),
        qraw,
        _fixed_centroids(),
        _pq_seed_codebook(spark, sf_dir),
        m=_PQ_M,
        k=3,
        nprobe=2,
        shortlist=20,
    )


def _ivfpq_appended_index_path(spark, sf_dir):
    """Index built INCREMENTALLY: the base write holds only
    vec_id % 3 != 0 of the corpus; the % 3 == 0 remainder arrives as
    an append_ivfpq_index batch (same frozen centroids/codebook). The
    final at-rest content equals the full-build index, which is what
    lets ivfpq_append_topk share ivfpq_index_topk's value-level
    oracle. The base write AND the append both run inside the staging
    dir of _publish_shared_index (VERDICT r9 #2b: previously rebuilt
    per session under a per-app name; now built once per corpus stamp
    and shared across sessions - append==rebuild equality, replay
    idempotency and the skew tripwire stay pinned on their own tmp
    paths in tests/test_pq.py, so the machinery is still exercised)."""
    from ..operators.similarity import append_ivfpq_index, write_ivfpq_index

    def build():
        path = _shared_index_path("spark_graft_ivfpq_apnd_", sf_dir)

        def write(staging):
            emb = read_table(spark, sf_dir, "embeddings")
            corpus = emb.where(F.col("vec_id") >= 5)
            cb = _pq_seed_codebook(spark, sf_dir)
            write_ivfpq_index(
                corpus.where(F.col("vec_id") % 3 != 0),
                _fixed_centroids(), cb, staging, m=_PQ_M,
            )
            append_ivfpq_index(
                spark, staging,
                corpus.where(F.col("vec_id") % 3 == 0),
                _fixed_centroids(), cb, m=_PQ_M,
            )

        _publish_shared_index(spark, path, write)
        return path

    return artifacts.get(
        spark, ("ivfpq_append_index", sf_dir, "embeddings"), build
    )


@q("ivfpq_append_topk", _IVFPQ_SQL)
def ivfpq_append_topk_q(spark, sf_dir):
    """IVFADC served from an index maintained INCREMENTALLY
    (write_ivfpq_index on 2/3 of the corpus, append_ivfpq_index for
    the rest): serving an appended index must be indistinguishable
    from serving a from-scratch build over the union corpus, so the
    query shares ivfpq_topk's value-level oracle verbatim. The append
    path is O(batch) assign+encode + touched-cell pruned replay guard
    - the 100-TB story for an index that must ingest new vectors
    without a corpus re-encode (tests/test_pq.py pins append==rebuild
    equality, replay idempotency, and the skew tripwire)."""
    from ..operators.similarity import ivfpq_topk_from_index

    emb = read_table(spark, sf_dir, "embeddings")
    qraw = emb.where(F.col("vec_id") < 5)
    return ivfpq_topk_from_index(
        spark,
        _ivfpq_appended_index_path(spark, sf_dir),
        qraw,
        _fixed_centroids(),
        _pq_seed_codebook(spark, sf_dir),
        m=_PQ_M,
        k=3,
        nprobe=2,
        shortlist=20,
    )


_CELL_OCC_SQL = f"""
WITH cent(cluster_id, centroid) AS (VALUES {_cent_values_sql(_fixed_centroids())}),
cc AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    c.centroid),
                      c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id >= 5
  ) WHERE rn = 1
),
c AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors
  FROM cc GROUP BY 1
)
SELECT CAST(cluster_id AS INTEGER) AS cluster_id, n_vectors,
       round(n_vectors / sum(n_vectors) OVER (), 6) AS share,
       n_vectors > 2.0 * avg(n_vectors) OVER () AS hot
FROM c
"""


@q("ivfpq_cell_occupancy", _CELL_OCC_SQL)
def ivfpq_cell_occupancy_q(spark, sf_dir):
    """Cell-occupancy report over the PERSISTED IVFPQ index - the
    DataFrame face of ivfpq_index_cell_stats' retrain tripwire: per
    coarse cell its vector count, corpus share, and the hot flag
    (> 2x fair share = the IVF imbalance heuristic that triggers
    centroid retraining under append_ivfpq_index drift). The count
    aggregate reads ONLY the partition column (zero data columns at
    the scan); the window runs over n_cells rows, not the corpus."""
    from pyspark.sql import Window

    idx = spark.read.parquet(_ivfpq_index_path(spark, sf_dir))
    counts = idx.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    w = Window.partitionBy()
    return counts.select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_vectors",
        F.round(
            F.col("n_vectors") / F.sum("n_vectors").over(w), 6
        ).alias("share"),
        (
            F.col("n_vectors")
            > F.lit(2.0) * F.avg("n_vectors").over(w)
        ).alias("hot"),
    )


def _pq_residual_seed_codebook(spark, sf_dir):
    """Residual-space codebook for the faithful IVFADC: the residual of
    each seed vector (vec_id < k) w.r.t. its OWN assigned fixed cell -
    deterministic given the corpus + centroids, hence SQL-expressible
    (the oracle recomputes the same assignment + subtraction)."""
    cents = _fixed_centroids()
    C = np.array([v for _, v in cents], dtype=np.float64)
    seeds = _pq_seed_codebook(spark, sf_dir)
    out = []
    for j, (_vid, v) in enumerate(seeds):
        x = np.array(v, dtype=np.float64)
        cell = int(np.argmin(((C - x[None, :]) ** 2).sum(axis=1)))
        out.append((j, (x - C[cell]).tolist()))
    return out


_IVFPQ_RES_SQL = f"""
WITH cent(cluster_id, centroid) AS (VALUES {_cent_values_sql(_fixed_centroids())}),
ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
asg AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.v, c.centroid), c.cluster_id) AS rn
    FROM ev e CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT e.vec_id,
         list_transform(list_zip(e.v, c.centroid),
                        p -> p[1] - p[2]) AS rv
  FROM ev e
  JOIN asg a USING (vec_id)
  JOIN cent c ON c.cluster_id = a.cluster_id
),
ss AS (SELECT unnest(range(8)) AS s),
cw AS (
  SELECT vec_id AS j, s, list_slice(rv, s*8 + 1, s*8 + 8) AS c
  FROM resid CROSS JOIN ss WHERE vec_id < 16
),
esub AS (
  SELECT vec_id, s, list_slice(rv, s*8 + 1, s*8 + 8) AS evs
  FROM resid CROSS JOIN ss WHERE vec_id >= 5
),
best AS (
  SELECT vec_id, s, j FROM (
    SELECT e.vec_id, e.s, c.j,
           row_number() OVER (
             PARTITION BY e.vec_id, e.s
             ORDER BY list_distance(e.evs, c.c), c.j) AS rn
    FROM esub e JOIN cw c ON e.s = c.s
  ) WHERE rn = 1
),
qp AS (
  SELECT q_id, cluster_id FROM (
    SELECT e.vec_id AS q_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.v, c.centroid), c.cluster_id) AS rn
    FROM ev e CROSS JOIN cent c
    WHERE e.vec_id < 5
  ) WHERE rn <= 2
),
qres AS (
  SELECT q.vec_id AS q_id, qp.cluster_id,
         list_transform(list_zip(q.v, c.centroid),
                        p -> p[1] - p[2]) AS qrv
  FROM ev q
  JOIN qp ON qp.q_id = q.vec_id
  JOIN cent c ON c.cluster_id = qp.cluster_id
),
adc AS (
  SELECT b.vec_id, qr.q_id,
         round(sum(list_sum(list_transform(
                 list_zip(list_slice(qr.qrv, b.s*8 + 1, b.s*8 + 8), c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS adc_dist
  FROM best b
  JOIN asg cc ON cc.vec_id = b.vec_id
  JOIN qres qr ON qr.cluster_id = cc.cluster_id
  JOIN cw c ON c.s = b.s AND c.j = b.j
  GROUP BY b.vec_id, qr.q_id
),
sl AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= 20
),
exact AS (
  SELECT s.q_id, s.vec_id,
         round(list_sum(list_transform(
           list_zip(e.v, q.v),
           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sq_dist
  FROM sl s
  JOIN ev e ON e.vec_id = s.vec_id
  JOIN ev q ON q.vec_id = s.q_id
)
SELECT q_id, vec_id, sq_dist, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY sq_dist, vec_id) AS rn
  FROM exact
) WHERE rn <= 3
"""


@q("ivfpq_residual_topk", _IVFPQ_RES_SQL)
def ivfpq_residual_topk_q(spark, sf_dir):
    """The faithful IVFADC (Jegou et al. 2011 SV): PQ quantizes each
    vector's RESIDUAL against its coarse cell's centroid, so the
    codeword budget describes within-cell variation instead of
    re-describing cell positions - the accuracy trick behind
    billion-scale m-bytes-per-vector search. Query LUTs become per
    (query, probed cell); candidates, shortlist and the full-precision
    rescore are the shared IVFADC tail. Codebook = seed-vector
    residuals w.r.t. their own cells (deterministic, so the whole
    composition carries a value-level oracle like ivfpq_topk)."""
    from ..operators.similarity import ivfpq_residual_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(
        emb,
        _fixed_centroids(),
        _pq_residual_seed_codebook(spark, sf_dir),
        m=_PQ_M,
        query_pred=lambda c: c < 5,
        k=3,
        nprobe=2,
        shortlist=20,
    )


def _lloyd_ctes(k: int, n_iter: int, *, prefix: str = "g") -> str:
    """Generic unrolled-Lloyd CTE chain (the _kmeans_lloyd_sql body as
    a reusable generator, prefixed to compose with other chains): md5
    init, per-iteration argmin assignment + per-(cluster, position)
    mean with the empty-cluster keep-previous rule. Ends with
    {prefix}c{n_iter} (cid, cent) and exposes {prefix}emb
    (vec_id, v)."""
    parts = [f"""
{prefix}emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{prefix}c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
         AS INTEGER) AS cid,
         v AS cent
  FROM {prefix}emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {k}
)"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
{prefix}a{t} AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.v, c.cent), c.cid) AS rn
    FROM {prefix}emb e CROSS JOIN {prefix}c{t - 1} c
  ) WHERE rn = 1
),
{prefix}m{t} AS MATERIALIZED (
  SELECT cid, list(mv ORDER BY pos) AS cent FROM (
    SELECT cid, pos, avg(x) AS mv FROM (
      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      FROM {prefix}a{t}
    ) GROUP BY cid, pos
  ) GROUP BY cid
),
{prefix}c{t} AS MATERIALIZED (
  SELECT p.cid, coalesce(m.cent, p.cent) AS cent
  FROM {prefix}c{t - 1} p LEFT JOIN {prefix}m{t} m USING (cid)
)""")
    return "".join(parts)


_IVFPQ_TRAINED_SQL = f"""
WITH {_lloyd_ctes(4, 2, prefix="g")},
{_pq_train_ctes(2, prefix="p")},
cc AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.v, c.cent), c.cid) AS rn
    FROM gemb e CROSS JOIN gc2 c
    WHERE e.vec_id >= 5
  ) WHERE rn = 1
),
qp AS (
  SELECT q_id, cid AS cluster_id FROM (
    SELECT e.vec_id AS q_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.v, c.cent), c.cid) AS rn
    FROM gemb e CROSS JOIN gc2 c
    WHERE e.vec_id < 5
  ) WHERE rn <= 2
),
qv AS (SELECT vec_id AS q_id, v FROM gemb WHERE vec_id < 5),
best AS (
  SELECT vec_id, s, j FROM (
    SELECT e.vec_id, e.s, c.j,
           row_number() OVER (PARTITION BY e.vec_id, e.s
             ORDER BY list_distance(e.ev, c.c), c.j) AS rn
    FROM pesub e JOIN pcw c ON e.s = c.s
  ) WHERE rn = 1
),
adc AS (
  SELECT b.vec_id, qp.q_id,
         round(sum(list_sum(list_transform(
                 list_zip(list_slice(q.v, b.s*8 + 1, b.s*8 + 8), c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS adc_dist
  FROM best b
  JOIN cc ON cc.vec_id = b.vec_id
  JOIN qp ON qp.cluster_id = cc.cluster_id
  JOIN qv q ON q.q_id = qp.q_id
  JOIN pcw c ON b.s = c.s AND b.j = c.j
  GROUP BY b.vec_id, qp.q_id
),
sl AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= 20
),
exact AS (
  SELECT s.q_id, s.vec_id,
         round(list_sum(list_transform(
           list_zip(e.v, q.v),
           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sq_dist
  FROM sl s
  JOIN gemb e ON e.vec_id = s.vec_id
  JOIN qv q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sq_dist, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY sq_dist, vec_id) AS rn
  FROM exact
) WHERE rn <= 3
"""


@q("ivfpq_trained_topk", _IVFPQ_TRAINED_SQL)
def ivfpq_trained_topk_q(spark, sf_dir):
    """IVFADC with LEARNED components - kmeans_fit trains the coarse
    quantizer and pq_train the codebooks, both feeding the identical
    composed search (ivfpq_topk) the seeded oracle query verifies.
    Fully oracle-checked since r10: both trainers unroll
    (_lloyd_ctes + _pq_train_ctes, the _kmeans_lloyd_sql discipline)
    and the serving chain (route -> probe -> ADC -> shortlist ->
    exact rescore) is the same SQL skeleton _IVFPQ_SQL pins for the
    seeded twin; the exact-recovery pytest in tests/test_recall.py
    additionally pins full probe + corpus-wide shortlist == exact
    top-k even with trained parts (the rescore stage is
    full-precision)."""
    from ..operators.similarity import ivfpq_topk, kmeans_fit, pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    # tol=0.0: exact fixed-iteration contract (see kmeans_clusters)
    cents, _, _ = kmeans_fit(emb, 4, max_iter=2, tol=0.0)
    cb, _, _ = pq_train(emb, m=_PQ_M, k=_PQ_K, max_iter=2, tol=0.0)
    return ivfpq_topk(
        emb,
        cents,
        cb,
        m=_PQ_M,
        query_pred=lambda c: c < 5,
        k=3,
        nprobe=2,
        shortlist=20,
    )


_PQ_RESCORE_C = 20

_PQ_RESCORED_SQL = (
    _PQ_BASE_SQL
    + f""",
qv AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 5
),
adc AS (
  SELECT b.vec_id, q.q_id,
         round(sum(list_sum(list_transform(
                 list_zip(list_slice(q.v, b.s*8 + 1, b.s*8 + 8), c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])))), 6)
           AS adc_dist
  FROM best b
  JOIN cw c ON b.s = c.s AND b.j = c.j
  CROSS JOIN qv q
  WHERE b.vec_id >= 5
  GROUP BY b.vec_id, q.q_id
),
shortlist AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= {_PQ_RESCORE_C}
),
exact AS (
  SELECT s.q_id, s.vec_id,
         round(list_sum(list_transform(
           list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                    q.v),
           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sq_dist
  FROM shortlist s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN qv q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sq_dist, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY sq_dist, vec_id) AS rn
  FROM exact
) WHERE rn <= 3
"""
)


@q("pq_topk_rescored", _PQ_RESCORED_SQL)
def pq_topk_rescored_q(spark, sf_dir):
    """The COMPLETE production PQ search path: ADC ranks a top-20
    shortlist from codes alone (m lookups per candidate), then exact
    squared-L2 rescores ONLY the shortlist and keeps top-3 - full
    precision touches n_q*20 vectors however big the corpus is. The
    shortlist join back to raw vectors is the one step that reads
    full-precision data; at 100 TB it is an id-equi-join that prunes
    to the shortlist row set."""
    from ..operators.similarity import pq_adc_topk, pq_encode

    emb = read_table(spark, sf_dir, "embeddings")
    cb = _pq_seed_codebook(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    codes = pq_encode(corpus, cb, m=_PQ_M)
    queries_ = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    ]
    shortlist = pq_adc_topk(
        codes.select("vec_id", "codes"),
        queries_,
        cb,
        m=_PQ_M,
        k_top=_PQ_RESCORE_C,
    ).select("q_id", "vec_id")
    qdf = spark.createDataFrame(
        [(qid, vec) for qid, vec in queries_], ["q_id", "_qv"]
    )
    rescored = (
        shortlist.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qdf), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "embedding",
                        "_qv",
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("sq_dist"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy("sq_dist", "vec_id")
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("q_id", "vec_id", "sq_dist", "rn")
    )


@q("opq_trained_topk", None)
def opq_trained_topk_q(spark, sf_dir):
    """OPQ-ADC serving: opq_train learns the orthogonal rotation R
    jointly with the PQ codebooks (Ge et al. 2013 alternation), then
    serving is PLAIN PQ in the rotated basis - rotate_vectors on the
    corpus, the trained codebook into pq_adc_topk with the queries
    rotated driver-side (q @ R is d*d flops on 5 vectors). Downstream
    of an iterative trainer -> rows-only for the driver, like
    ivfpq_trained_topk; the trainer itself is pinned by the numpy
    differential + monotone-objective + orthogonality pytests in
    tests/test_pq.py, and this wiring by the exact-recovery property
    that rotation preserves L2 (full-k codebooks at d_sub=1 would be
    lossless; here the smoke shape matches ADC-vs-oracle tolerances)."""
    from ..operators.similarity import (
        opq_train,
        pq_adc_topk,
        pq_encode,
        rotate_vectors,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # pq_iter=1: the registry entry exercises the full alternation
    # wiring; trainer fidelity at higher budgets is pinned by the
    # numpy differential, and each extra Lloyd pass is a whole corpus
    # job (~1.5s of pure fixed cost at bench SF).
    R, cb, _trace = opq_train(emb, m=_PQ_M, k=_PQ_K, max_iter=2, pq_iter=1)
    corpus = rotate_vectors(
        emb.where(F.col("vec_id") >= 5), R
    )
    q_rows = (
        emb.where(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    )
    import numpy as np

    queries = [
        (int(r["vec_id"]), (np.array(r["embedding"], dtype=np.float64) @ R).tolist())
        for r in q_rows
    ]
    codes = pq_encode(corpus, cb, m=_PQ_M)
    return pq_adc_topk(codes, queries, cb, m=_PQ_M, k_top=3)


_HARD_NEG_SQL = """
WITH scored AS (
  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id, c.label,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM embeddings c
  CROSS JOIN (SELECT vec_id, label, embedding
              FROM embeddings WHERE vec_id < 5) q
  WHERE c.vec_id >= 5 AND c.label != q.label
)
SELECT q_id, vec_id, label, cos_sim, rn FROM (
  SELECT q_id, vec_id, label, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 3
"""


@q("hard_negative_mining", _HARD_NEG_SQL)
def hard_negative_mining_q(spark, sf_dir):
    """Contrastive-training curation: per anchor (vec_id < 5), the
    top-3 closest impostors - most-similar corpus vectors whose label
    DIFFERS. Broadcast anchors, label-mismatch fused before the rank
    window; the one shuffle is the per-anchor top-k."""
    from ..operators.similarity import hard_negative_topk

    emb = read_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return hard_negative_topk(anchors, corpus, k=3)


_TRIPLET_SQL = """
WITH scored AS (
  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id, c.label,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM embeddings c
  CROSS JOIN (SELECT vec_id, label, embedding
              FROM embeddings WHERE vec_id < 5) q
  WHERE c.vec_id >= 5
),
pos AS (
  SELECT q_id, vec_id AS pos_id, cos_sim AS pos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored WHERE label = q_label
  ) WHERE rn = 1
),
neg AS (
  SELECT q_id, vec_id AS neg_id, cos_sim AS neg_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored WHERE label != q_label
  ) WHERE rn = 1
)
SELECT p.q_id, pos_id, pos_sim, neg_id, neg_sim,
       round(pos_sim - neg_sim, 6) AS margin
FROM pos p JOIN neg n ON p.q_id = n.q_id
"""


@q("triplet_mining", _TRIPLET_SQL)
def triplet_mining_q(spark, sf_dir):
    """(anchor, positive, hardest-negative) triplets with margins for
    metric-learning data prep: one broadcast-scored corpus pass,
    windowed twice over disjoint label partitions, rank-1 picks meet
    in an anchor-keyed join. Negative margin rows = the anchors a
    training step would move."""
    from ..operators.similarity import mine_triplets

    emb = read_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return mine_triplets(anchors, corpus)


_MATRYOSHKA_SQL = """
WITH dims(d) AS (VALUES (8), (16), (32), (64)),
scored AS (
  SELECT d.d, q.vec_id AS q_id, c.vec_id,
         round(list_cosine_similarity(
                 CAST(list_slice(c.embedding, 1, d.d) AS DOUBLE[]),
                 CAST(list_slice(q.embedding, 1, d.d) AS DOUBLE[])), 6)
           AS cos_sim
  FROM embeddings c
  CROSS JOIN dims d
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < 5) q
  WHERE c.vec_id >= 5
),
top AS (
  SELECT d, q_id, vec_id FROM (
    SELECT d, q_id, vec_id,
           row_number() OVER (PARTITION BY d, q_id
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= 3
),
ref AS (SELECT q_id, vec_id FROM top WHERE d = 64)
SELECT t.d AS dim, t.q_id,
       CAST(count(r.vec_id) AS BIGINT) AS n_hits
FROM top t
LEFT JOIN ref r ON t.q_id = r.q_id AND t.vec_id = r.vec_id
GROUP BY t.d, t.q_id
"""


@q("matryoshka_recall", _MATRYOSHKA_SQL)
def matryoshka_recall_q(spark, sf_dir):
    """Matryoshka-style truncation sweep (Kusupati et al. 2022): for
    prefix dims 8/16/32/64, rank the corpus by cosine over the
    TRUNCATED embeddings and count how many of the full-dim top-3 each
    prefix recovers - the evaluation that decides how short a cheap
    first-stage retrieval prefix can be. One scored pass over
    corpus x dims (the dim axis is a 4-literal explode, not a second
    scan), one (dim, anchor) rank window, and the overlap join moves
    only top-k rows. dim=64 self-compares at n_hits=3 by construction
    - the built-in sanity row."""
    emb = read_table(spark, sf_dir, "embeddings")
    # cosine (zip_with/aggregate, pure JVM) rather than cosine_fast:
    # the Arrow batch kernel np.stacks equal-length arrays, and the
    # dim axis makes slice lengths vary WITHIN a batch.
    from ..operators.similarity import cosine

    anchors = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.where(F.col("vec_id") >= 5).select("vec_id", "embedding")
    dims = F.explode(F.array(*[F.lit(d) for d in (8, 16, 32, 64)])).alias(
        "dim"
    )
    scored = (
        corpus.select("vec_id", "embedding", dims)
        .crossJoin(F.broadcast(anchors))
        .withColumn(
            "cos_sim",
            F.round(
                cosine(
                    F.slice(F.col("embedding"), F.lit(1), F.col("dim")),
                    F.slice(F.col("q_vec"), F.lit(1), F.col("dim")),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("dim", "q_id").orderBy(
        F.desc("cos_sim"), F.col("vec_id")
    )
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("dim", "q_id", "vec_id")
    )
    ref = top.where(F.col("dim") == 64).select(
        F.col("q_id").alias("_ref_q"), F.col("vec_id").alias("_ref_id")
    )
    return (
        top.join(
            F.broadcast(ref),
            (F.col("q_id") == F.col("_ref_q"))
            & (F.col("vec_id") == F.col("_ref_id")),
            "left",
        )
        .groupBy("dim", "q_id")
        .agg(F.count("_ref_id").cast("long").alias("n_hits"))
        .select("dim", "q_id", "n_hits")
    )


_EMB_OUTLIER_SQL = """
WITH ex AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
cents AS (
  SELECT label, pos, avg(x) AS c FROM ex GROUP BY label, pos
),
dists AS (
  SELECT e.vec_id, e.label, sqrt(sum((e.x - c.c) * (e.x - c.c))) AS d
  FROM ex e JOIN cents c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.vec_id, e.label
),
stats AS (
  SELECT label, avg(d) AS m, stddev(d) AS s FROM dists GROUP BY label
)
SELECT d.vec_id, d.label, round(d.d, 6) AS dist,
       round((d.d - st.m) / st.s, 6) AS z_score
FROM dists d JOIN stats st ON d.label = st.label
WHERE st.s > 0 AND (d.d - st.m) / st.s > 2.0
"""


@q("embedding_outliers", _EMB_OUTLIER_SQL)
def embedding_outliers_q(spark, sf_dir):
    """Mislabeled-example sweep: vectors > 2 sample-stddevs farther
    from their own label's centroid than that label's mean distance.
    Centroids = one tiny collected aggregate shipped back in an Arrow
    closure; the embeddings table is never shuffled for the distance."""
    from ..operators.similarity import embedding_outliers

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, z_thresh=2.0)


def _emb_curation_sql(
    k: int = N_SEM_CELLS, tau: float = _SEM_TAU, z: float = 2.0
) -> str:
    """Composed oracle for embedding_curation_pipeline: the outlier
    CTEs mirror _EMB_OUTLIER_SQL, the dedup CTEs mirror _semdedup_sql
    re-based on the cleaned corpus (cells seeded by the k smallest
    SURVIVING ids), the triplet tail mirrors _TRIPLET_SQL."""
    return f"""
WITH ex AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
ocent AS (SELECT label, pos, avg(x) AS c FROM ex GROUP BY label, pos),
dists AS (
  SELECT e.vec_id, e.label, sqrt(sum((e.x - c.c) * (e.x - c.c))) AS d
  FROM ex e JOIN ocent c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.vec_id, e.label
),
ostats AS (SELECT label, avg(d) AS m, stddev(d) AS s FROM dists GROUP BY label),
outliers AS (
  SELECT d.vec_id FROM dists d JOIN ostats st ON d.label = st.label
  WHERE st.s > 0 AND (d.d - st.m) / st.s > {z}
),
clean AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE vec_id NOT IN (SELECT vec_id FROM outliers)
),
cent AS (
  SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS centroid
  FROM clean ORDER BY vec_id LIMIT {k}
),
assigned AS (
  SELECT vec_id, label, embedding, cluster_id FROM (
    SELECT e.vec_id, e.label, e.embedding, c.cluster_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    c.centroid), c.cluster_id) AS rn
    FROM clean e CROSS JOIN cent c
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6)
        >= {tau}
),
kept AS (
  SELECT vec_id, label, embedding FROM assigned
  WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
),
scored AS (
  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id, c.label,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM kept c
  CROSS JOIN (SELECT vec_id, label, embedding FROM kept
              WHERE vec_id < 5) q
  WHERE c.vec_id >= 5
),
pos AS (
  SELECT q_id, vec_id AS pos_id, cos_sim AS pos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored WHERE label = q_label
  ) WHERE rn = 1
),
neg AS (
  SELECT q_id, vec_id AS neg_id, cos_sim AS neg_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored WHERE label != q_label
  ) WHERE rn = 1
)
SELECT p.q_id, pos_id, pos_sim, neg_id, neg_sim,
       round(pos_sim - neg_sim, 6) AS margin
FROM pos p JOIN neg n ON p.q_id = n.q_id
"""


@q("embedding_curation_pipeline", _emb_curation_sql())
def embedding_curation_pipeline_q(spark, sf_dir):
    """End-to-end labeled-embedding curation, the embeddings twin of
    curation_pipeline: (1) own-label-centroid z-score outlier sweep
    (embedding_outliers shape -> broadcast anti-join), (2)
    SemDeDup-shaped semantic dedup RE-BASED on the cleaned corpus
    (cells seeded by the k smallest surviving ids, within-cell cosine
    pairs >= tau, drop the larger id), (3) (anchor, positive,
    hardest-negative, margin) triplet mining over the deduped set -
    the contrastive-training-set construction path, every stage
    reusing the standalone operator. Shuffle discipline: outlier drop
    and dedup drop apply as broadcast anti-joins, cell assignment is a
    zero-shuffle projection, pair enumeration is the cluster_id
    equi-join, the triplet tail is one broadcast-scored pass."""
    from ..operators.similarity import (
        embedding_neardup_pairs,
        embedding_outliers,
        kmeans_assign,
        mine_triplets,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    out = embedding_outliers(emb, z_thresh=2.0).select("vec_id")
    clean = emb.join(F.broadcast(out), "vec_id", "left_anti")
    seeds = (
        clean.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(N_SEM_CELLS)
        .collect()
    )
    cents = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding]) for r in seeds
    )
    assigned = kmeans_assign(clean, cents).localCheckpoint(eager=False)
    pairs = embedding_neardup_pairs(
        assigned, block_col="cluster_id", min_cosine=_SEM_TAU
    )
    dup_drop = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    kept = assigned.join(
        F.broadcast(dup_drop), "vec_id", "left_anti"
    ).select("vec_id", "label", "embedding")
    anchors = kept.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    corpus = kept.where(F.col("vec_id") >= 5)
    return mine_triplets(anchors, corpus)


def _jl_sql(out_dim: int = 16, in_dim: int = 64) -> str:
    """Mirror of jl_project: the SAME deterministic md5-parity sign
    matrix inlined as literals on both engines."""
    from ..operators.similarity import jl_sign_matrix

    R = jl_sign_matrix(out_dim, in_dim)
    vals = ",\n  ".join(
        f"({j}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for j, row in enumerate(R)
    )
    return f"""
WITH r(pos, rrow) AS (VALUES
  {vals}
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT e.vec_id, r.pos,
       round(list_sum(list_transform(range(1, {in_dim + 1}),
                                     i -> v[i] * rrow[i])), 6)
         AS component
FROM e CROSS JOIN r
"""


@q("jl_projection", _jl_sql())
def jl_projection_q(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64 -> 16: training-free
    distance-preserving dimensionality reduction via a DETERMINISTIC
    md5-parity sign matrix (no RNG state - any engine derives the
    identical matrix), applied as a pure zero-shuffle JVM projection
    with the matrix inlined as literals. Values oracle-check exactly;
    the JL distance-preservation property itself is pinned in
    tests/test_projection.py."""
    from ..operators.similarity import jl_project

    emb = read_table(spark, sf_dir, "embeddings")
    proj = jl_project(emb, out_dim=16)
    return proj.select(
        "vec_id",
        F.posexplode("projection").alias("pos", "component"),
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.round("component", 6).alias("component"),
    )


# Planted low-rank fixture for the PCA spectrum oracle (VERDICT r9
# #3, the jl_projection discipline): 16 Walsh functions
# W_j(r) = (-1)^popcount(r & (j+1)) over complete 32-row blocks are
# EXACTLY orthogonal with exactly zero mean (integer +-1 cancellation),
# so the population covariance of coordinates c_j = a_j * W_j is
# diagonal with eigenvalue a_j^2 up to ~1e-13 fp-summation noise -
# which makes the eigendecomposition's OUTPUT SQL-checkable even
# though eigh itself has no SQL form: the oracle just computes the 16
# per-coordinate variances and ranks them.
_PCA_AMPS = [float(np.sqrt(8.0 - 0.5 * j)) for j in range(16)]
_PCA_DIM = 64

_PCA_SQL = f"""
WITH cnt AS (
  SELECT (count(*) // 32) * 32 AS m FROM embeddings
),
amp(j, a) AS (VALUES {", ".join(f"({j}, {repr(a)})" for j, a in enumerate(_PCA_AMPS))}),
coords AS (
  SELECT e.vec_id, amp.j,
         amp.a * (1 - 2 * (bit_count(e.vec_id & (amp.j + 1)) % 2)) AS c
  FROM embeddings e CROSS JOIN amp, cnt
  WHERE e.vec_id < cnt.m
),
vr AS (
  SELECT j, avg(c * c) - avg(c) * avg(c) AS v
  FROM coords GROUP BY j
),
tot AS (SELECT sum(v) AS total FROM vr),
ranked AS (
  SELECT v, CAST(row_number() OVER (ORDER BY v DESC) - 1 AS INTEGER)
           AS component
  FROM vr
)
SELECT component, round(v, 6) AS eigenvalue,
       round(sum(v) OVER (ORDER BY component) / tot.total, 6)
         AS cum_ratio
FROM ranked, tot
WHERE component < 8
ORDER BY component
"""


@q("pca_variance_explained", _PCA_SQL)
def pca_variance_explained_q(spark, sf_dir):
    """PCA spectrum: top-8 eigenvalues of the covariance and their
    cumulative variance ratio - the report a curation pipeline reads
    before choosing a Matryoshka/PQ budget. One pass of mergeable
    per-partition sufficient statistics (count, sum, Gram) + a
    driver-side eigh on the dim x dim covariance; no shuffle anywhere.
    Since r10 the registered input is a PLANTED deterministic
    low-rank frame (16 Walsh-function coordinates with known
    decreasing amplitudes, derived in-plan from vec_id - the
    embedding_drift_report discipline): Walsh functions over complete
    32-row blocks are exactly orthogonal with exactly zero mean, so
    the spectrum the REAL pca_fit machinery computes equals the 16
    per-coordinate variances, which DuckDB re-derives - eigenvalues,
    ordering AND the trace normalization of cum_ratio all
    value-check (a wrong divisor, n-1 vs n, or a missing centering
    step flips the hash). pca_fit on real full-rank embeddings stays
    pinned against full-matrix numpy PCA in tests/test_projection.py.
    cum_ratio divides by trace(cov) - the TOTAL variance over all
    dims, free from the same sufficient statistics - not by the top-k
    sum (which would always end at 1.0 and tell a budget-chooser that
    8 dims capture everything)."""
    from ..operators.similarity import pca_fit

    emb = read_table(spark, sf_dir, "embeddings")
    # bounded driver scalars (the kmeans_fit discipline). LOUD
    # contiguity tripwire (r10 review): the complete-32-block Walsh
    # orthogonality both engines' agreement rests on requires vec_id
    # to be EXACTLY 0..n-1 - a gapped id space would silently put
    # off-diagonal mass in the covariance and hash-mismatch forever.
    st = emb.agg(
        F.count("*").alias("n"),
        F.min("vec_id").alias("lo"),
        F.max("vec_id").alias("hi"),
        F.countDistinct("vec_id").alias("d"),
    ).first()
    n = st["n"]
    if n == 0:
        # a misleading contiguity message on zero rows would send the
        # operator chasing id generation (r10 review)
        raise ValueError("pca_variance_explained: empty embeddings table")
    if not (st["lo"] == 0 and st["hi"] == n - 1 and st["d"] == n):
        raise ValueError(
            "pca_variance_explained: vec_id must be contiguous 0..n-1 "
            f"for the Walsh fixture (got min={st['lo']} max={st['hi']} "
            f"distinct={st['d']} n={n}); regenerate ids or re-derive a "
            "dense index upstream"
        )
    m = (n // 32) * 32
    walsh = [
        (
            F.lit(a)
            * (
                F.lit(1)
                - F.lit(2)
                * (
                    F.bit_count(
                        F.col("vec_id").bitwiseAND(F.lit(j + 1))
                    )
                    % 2
                )
            )
        ).cast("double")
        for j, a in enumerate(_PCA_AMPS)
    ]
    planted = emb.where(F.col("vec_id") < m).select(
        "vec_id",
        F.array(
            *walsh,
            *[F.lit(0.0) for _ in range(_PCA_DIM - len(_PCA_AMPS))],
        ).alias("embedding"),
    )
    _mean, _comps, eigvals, total_var = pca_fit(
        planted, k=8, with_total_var=True
    )
    total = total_var if total_var > 0 else 1.0
    cum = 0.0
    rows = []
    for j, v in enumerate(eigvals):
        cum += v
        rows.append((j, round(v, 6), round(cum / total, 6)))
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, cum_ratio double"
    ).orderBy("component")


_SEM_DECON_SQL = """
WITH ev AS (
  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ev
  FROM embeddings WHERE vec_id % 10 = 0
),
tr AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tv
  FROM embeddings WHERE vec_id % 10 != 0
),
p AS (
  SELECT t.vec_id, e.eval_id,
         round(list_cosine_similarity(t.tv, e.ev), 6) AS c
  FROM tr t CROSS JOIN ev e
),
r AS (
  SELECT vec_id, eval_id, c,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c DESC, eval_id) AS rn
  FROM p
)
SELECT vec_id, eval_id, c AS max_cos,
       CAST(c >= 0.35 AS INT) AS contaminated
FROM r WHERE rn = 1
"""


@q("semantic_decontamination", _SEM_DECON_SQL)
def semantic_decontamination_q(spark, sf_dir):
    """SEMANTIC decontamination (the third lane of the triad:
    decontamination_report catches verbatim n-gram leaks,
    fuzzy_decontamination catches shingle-level near-dups, this
    catches paraphrases that share no surface form at all): every
    training vector (vec_id % 10 != 0) reports its max cosine against
    the benchmark suite (vec_id % 10 == 0), the eval item that
    achieved it, and a contaminated verdict at 0.35. Full audit
    output - one row per training vector, near-misses visible - not
    just the kill list. Scale shape: the eval matrix is a captured
    constant, the corpus side is ONE Arrow scan with a per-batch
    matmul, zero shuffle, zero joins (the oracle's cross join is the
    exact semantics, not the plan). Per-pair cosines round to 6 dp
    before the argmax on both sides, ties to the smallest eval id, so
    value, winner id and verdict all hash-match."""
    from ..operators.similarity import semantic_contamination

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_contamination(
        emb.where(F.col("vec_id") % 10 != 0),
        emb.where(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("eval_id"),
            F.col("embedding").alias("eval_vec"),
        ),
        threshold=0.35,
    )


_KNN_LABEL_SQL = f"""
WITH cent(cluster_id, centroid) AS (
  VALUES {_cent_values_sql(_fixed_centroids())}
),
q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id % 5 = 0
),
qp AS (
  SELECT q_id, q_vec, cluster_id FROM (
    SELECT q.q_id, q.q_vec, c.cluster_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY list_distance(q.q_vec, c.centroid),
                      c.cluster_id) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
ca AS (
  SELECT vec_id, label, v, cluster_id FROM (
    SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v,
           c.cluster_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    c.centroid),
                      c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id % 5 != 0
  ) WHERE rn = 1
),
scored AS (
  SELECT qp.q_id, ca.vec_id, ca.label,
         round(list_cosine_similarity(ca.v, qp.q_vec), 6) AS cos_sim
  FROM qp JOIN ca USING (cluster_id)
),
nn AS (
  SELECT q_id, label FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= 5
),
votes AS (
  SELECT q_id, label, CAST(count(*) AS BIGINT) AS votes
  FROM nn GROUP BY q_id, label
)
SELECT q_id, label AS pred_label, votes FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY votes DESC, label) AS vr
  FROM votes
) WHERE vr = 1
"""


@q("knn_label_propagation", _KNN_LABEL_SQL)
def knn_label_propagation_q(spark, sf_dir):
    """Weak-supervision label propagation: every 'unlabeled' vector
    (vec_id % 5 == 0) takes the MAJORITY label of its 5 nearest
    labeled neighbors among its 2 probed IVF cells (ties to the
    smallest label) - the semi-supervised labeling pass that
    bootstraps quality/topic labels from a small annotated seed set
    before classifier training. VERDICT r9 #1: the earlier
    knn_join_bruteforce form broadcast a corpus-proportional query
    frame (O(0.2n x 0.8n) work + a broadcast that grows with the
    corpus); the default plan is now ivf_knn_join - both sides routed
    by zero-shuffle literal-centroid projections, candidates via a
    plain cluster_id equi-join, nothing corpus-sized broadcast or
    collected (plan pinned in tests/test_plans.py; exactness at
    nprobe=n_cells and recall at nprobe=2 pinned in
    tests/test_similarity.py, with brute force kept as the oracle
    twin). The DuckDB oracle re-derives the probed cells from the
    same fixed literal centroids, so the approximate path stays
    fully value-checked."""
    from ..operators.similarity import ivf_knn_join

    emb = read_table(spark, sf_dir, "embeddings")
    unlabeled = emb.where(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    labeled = emb.where(F.col("vec_id") % 5 != 0)
    nn = ivf_knn_join(
        unlabeled, labeled, _fixed_centroids(), k=5, nprobe=2
    )
    voted = (
        nn.join(
            labeled.select("vec_id", "label"), "vec_id"
        )
        .groupBy("q_id", "label")
        .agg(F.count("*").cast("long").alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("votes"), F.col("label")
    )
    return (
        voted.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "votes")
    )


_EMB_DRIFT_SQL = """
WITH v1 AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
v2 AS (
  SELECT vec_id, label, v,
         CASE WHEN vec_id % 9 = 0 THEN
           list_transform(range(1, len(v) + 1),
             i -> v[i] + 0.05 * (CASE WHEN (vec_id + (i - 1)) % 2 = 0
                                      THEN 1.0 ELSE -1.0 END))
         ELSE v END AS w
  FROM v1
)
SELECT vec_id, label,
       round(list_cosine_similarity(v, w), 6) AS cos_v1_v2,
       CAST(round(list_cosine_similarity(v, w), 6) < 1.0 AS INT)
         AS drifted
FROM v2
"""


@q("embedding_drift_report", _EMB_DRIFT_SQL)
def embedding_drift_report_q(spark, sf_dir):
    """Embedding-space version drift monitor - the VECTOR analogue of
    snapshot_diff (which audits row content by digest): when the
    encoder version changes, per-id cosine between the stored vectors
    and the re-embedded batch tells you whether the space moved and
    WHERE (re-embedding a corpus is expensive; a drifted space also
    invalidates IVFPQ cells - this is the report the
    ivfpq_index_cell_stats retrain tripwire reads next to). The v2
    side is a PLANTED deterministic re-embedding (every ninth vector
    shifts by an alternating +-0.05 pattern; the rest are unchanged),
    so cosines, per-id verdicts and the unchanged-ids' exact 1.0 all
    value-check. Scale shape: a co-partitioned id zip (here a pure
    projection since v2 derives in-plan), one JVM cosine per row,
    zero shuffle."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    delta = F.zip_with(
        v,
        F.sequence(F.lit(0), F.size(v) - 1),
        lambda x, i: x
        + F.lit(0.05)
        * F.when((F.col("vec_id") + i) % 2 == 0, F.lit(1.0)).otherwise(
            F.lit(-1.0)
        ),
    )
    w = F.when(F.col("vec_id") % 9 == 0, delta).otherwise(v)
    cos = F.round(cosine(v, w), 6)
    return emb.select(
        "vec_id",
        "label",
        cos.alias("cos_v1_v2"),
        (cos < 1.0).cast("int").alias("drifted"),
    )
