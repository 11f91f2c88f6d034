"""Scale probe for the exact-substring (suffix grain) family.

No sf1 testdata exists, so larger corpora are DERIVED in-memory from
sf0.1 documents (the span_scale_probe discipline; nothing is written to
/root/testdata), two ways:

* "clean"    every token prefixed with the replica id: suffix content
             is disjoint across replicas, so the corpus grows Nx at
             the baseline's duplication density. Claim: suffix
             positions, sort mass, and duplicated-position counts all
             grow ~linearly; wall ~linearly once past scheduler
             overhead - the plan (operators/dedup.suffix_block_frames)
             is one range-sort of fixed-width suffix chunks per
             refinement level, O(log max doc length) levels, with
             neighbor LCPs read from split-time boundary records;
             nothing pairwise.
* "dupheavy" replicas carry IDENTICAL text under fresh ids: every
             position becomes maximally duplicated (a crawl of
             mirrored pages - the adversarial case for anything
             pair-enumerating). Claim: still ~linear, because each
             position enters each refinement level at most once and
             identical-suffix groups resolve as one block regardless
             of how duplicated the corpus is; there is no
             candidate-pair explosion to measure.

For each corpus: docs, positions, duplicated positions (>= 8 tokens),
max run, and the report wall seconds.

Usage: python scripts/suffix_scale_probe.py [replicas]   (default 10)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from txf_continuous_data_pipeline_spark.operators.dedup import (
    exact_substr_stats,
)
from txf_continuous_data_pipeline_spark.session import get_spark
from txf_continuous_data_pipeline_spark.sources import read_table

SF_DIR = "/root/testdata/sf0.1"
ID_OFFSET = 1_000_000


def replicate(docs, replicas: int, *, mode: str):
    if replicas <= 1:
        return docs.select("doc_id", "text")
    r = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep")
    out = docs.select("doc_id", "text", r)
    if mode == "dupheavy":
        text = F.col("text")
    else:  # clean: replica-prefixed tokens -> disjoint suffix content
        text = F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda t: F.concat(
                    F.lit("r"), F.col("rep").cast("string"), F.lit("_"), t
                ),
            ),
        )
    return out.select(
        (F.col("doc_id") + F.col("rep") * ID_OFFSET).alias("doc_id"),
        text.alias("text"),
    )


def probe(docs, label: str) -> dict:
    docs = docs.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    agg = exact_substr_stats(docs, min_len=8).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("positions"),
        F.sum("dup_positions").alias("dup_positions"),
        F.max("max_dup_len").alias("max_run"),
    ).collect()[0]
    t1 = time.perf_counter()
    out = {
        "corpus": label,
        "docs": int(agg["docs"]),
        "positions": int(agg["positions"]),
        "dup_positions": int(agg["dup_positions"]),
        "max_run": int(agg["max_run"]),
        "report_sec": round(t1 - t0, 2),
    }
    print(json.dumps(out))
    return out


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("suffix_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = probe(docs, "1x")
    clean = probe(
        replicate(docs, replicas, mode="clean"), f"{replicas}x_clean"
    )
    heavy = probe(
        replicate(docs, replicas, mode="dupheavy"), f"{replicas}x_dupheavy"
    )
    for big in (clean, heavy):
        print(
            json.dumps(
                {
                    "corpus": big["corpus"],
                    "positions_growth": round(
                        big["positions"] / base["positions"], 2
                    ),
                    "dup_positions_growth": round(
                        big["dup_positions"]
                        / max(1, base["dup_positions"]),
                        2,
                    ),
                    "wall_growth": round(
                        big["report_sec"] / base["report_sec"], 2
                    ),
                }
            )
        )


if __name__ == "__main__":
    main()
