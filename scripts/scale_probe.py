"""Heavy-tail scale probe for the near-dup pipeline (VERDICT r03 #6).

No sf1 testdata exists, so the sf1-equivalent corpus is DERIVED in-memory
from sf0.1 documents: each doc appears in R replicas with distinct ids
and a per-replica suffix token appended to the text. Replicas of one doc
share all but ~shingle_n shingles (Jaccard ~ |S|/(|S|+shingle_n) >> 0.5),
so the derived corpus models boilerplate-heavy crawl data - near-dup
groups of size >= R - which is exactly the heavy tail the banded-LSH /
components design must survive. Nothing is written to /root/testdata.

For each scale it records: docs, LSH candidate pairs, verified pairs
(jaccard >= 0.5), component count / max size / rounds, the path
connected_components took and its input edge count, and stage wall
times. `cc_path` is "driver" when the verified pair list, `cc_edges`,
fits the broadcast budget (labels in numpy; `cc_rounds` counts its hook
rounds), else "distributed" (`cc_rounds` counts star rounds) - so a
small factor on the driver path is never read as a star-round timing.
The claim under test: candidate pairs grow ~linearly with corpus size
(subquadratic - the n^2 pair space is never enumerated) and component
rounds grow ~log(max component size).

Usage: python scripts/scale_probe.py [replicas]   (default 10 = sf1-eq)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from txf_continuous_data_pipeline_spark.operators.dedup import (
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signature,
    shingle_array,
)
from txf_continuous_data_pipeline_spark.operators.graph import (
    connected_components,
)
from txf_continuous_data_pipeline_spark.session import get_spark
from txf_continuous_data_pipeline_spark.sources import read_table

SF_DIR = "/root/testdata/sf0.1"
ID_OFFSET = 1_000_000  # replica i: doc_id + i * ID_OFFSET


def replicate(docs, replicas: int, *, neardup: bool):
    """R replicas per doc (replica 0 = the original text).

    neardup=True: a suffix token per replica - replicas share all but
    ~shingle_n shingles, so every doc gains R-1 true near-dups (the
    injected heavy tail). neardup=False: every token is prefixed with
    the replica id - replica shingle sets are fully disjoint, so corpus
    size grows R-fold while near-dup density stays the baseline's
    (naturally similar docs stay similar within each replica)."""
    if replicas <= 1:
        return docs.select("doc_id", "text")
    r = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep")
    out = docs.select("doc_id", "text", r)
    if neardup:
        text = F.when(F.col("rep") == 0, F.col("text")).otherwise(
            F.concat(F.col("text"), F.lit(" replicatoken"), F.col("rep"))
        )
    else:
        rep_s = F.col("rep").cast("string")
        text = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(rep_s, F.lit("_"), t),
            ),
            " ",
        )
    return out.select(
        (F.col("doc_id") + F.col("rep") * ID_OFFSET).alias("doc_id"),
        text.alias("text"),
    )


def probe(spark, docs, label: str) -> dict:
    t0 = time.perf_counter()
    docs = docs.persist()
    n_docs = docs.count()

    sets = docs.select(
        "doc_id",
        shingle_array(F.col("text"), n=3, hashed=True).alias("sh"),
    ).persist()
    sets.count()
    t_sets = time.perf_counter()

    sig = minhash_signature(docs, shingle_sets=sets)
    cand = lsh_candidate_pairs(sig).persist()
    n_cand = cand.count()
    t_cand = time.perf_counter()

    verified = jaccard_verify(
        cand, docs, threshold=0.5, shingle_sets=sets
    ).persist()
    n_pairs = verified.count()
    t_verify = time.perf_counter()

    stats: dict = {}
    comp = connected_components(
        verified.select("id_a", "id_b"), stats=stats
    ).persist()
    sizes = comp.groupBy("component").count()
    n_comp, max_comp = sizes.agg(
        F.count("*"), F.max("count")
    ).collect()[0]
    t_comp = time.perf_counter()

    for frame in (docs, sets, cand, verified, comp):
        frame.unpersist()
    return {
        "label": label,
        "docs": n_docs,
        "lsh_candidate_pairs": n_cand,
        "verified_pairs": n_pairs,
        "components": n_comp,
        "max_component": max_comp,
        "cc_path": stats["path"],
        "cc_edges": stats["edges"],
        "cc_rounds": stats["rounds"],
        "sec_shingle": round(t_sets - t0, 1),
        "sec_candidates": round(t_cand - t_sets, 1),
        "sec_verify": round(t_verify - t_cand, 1),
        "sec_components": round(t_comp - t_verify, 1),
    }


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = read_table(spark, SF_DIR, "documents")
    results = [
        probe(spark, replicate(docs, 1, neardup=False), "sf0.1"),
        probe(
            spark,
            replicate(docs, replicas, neardup=False),
            f"x{replicas} clean (sf1-eq, constant dup density)",
        ),
        probe(
            spark,
            replicate(docs, replicas, neardup=True),
            f"x{replicas} neardup (sf1-eq, injected heavy tail)",
        ),
    ]
    for r in results:
        print(json.dumps(r))
    small, clean, heavy = results
    scale = clean["docs"] / small["docs"]
    print(
        json.dumps(
            {
                "corpus_scale": scale,
                # constant dup density: cost must track corpus size, not
                # the n^2 pair space
                "clean_candidate_growth": round(
                    clean["lsh_candidate_pairs"]
                    / max(small["lsh_candidate_pairs"], 1),
                    1,
                ),
                "quadratic_would_be": round(scale * scale, 1),
                # heavy tail: cost must track TRUE pair count (perfect
                # precision = zero wasted verify work), never corpus^2
                "heavy_precision": round(
                    heavy["verified_pairs"]
                    / max(heavy["lsh_candidate_pairs"], 1),
                    3,
                ),
                "heavy_pairspace_fraction": round(
                    heavy["lsh_candidate_pairs"]
                    / (heavy["docs"] * (heavy["docs"] - 1) / 2),
                    6,
                ),
                "rounds": [r["cc_rounds"] for r in results],
                "paths": [r["cc_path"] for r in results],
            }
        )
    )


if __name__ == "__main__":
    main()
