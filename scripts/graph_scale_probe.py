"""Scale probe for the graph family: triangle_count + pagerank at
sf0.1 and on derived 10x graphs - the measurement behind SCALE.md's
"graph family" heavy-tail rows.

Claims this backs:
  * triangle_count's degree-ordered wedge enumeration keeps wedge mass
    linear when the graph is replicated (disjoint 10x copies -> ~10x
    wedges, not 100x), and a planted hub of degree d adds O(d) wedges
    - NOT d^2 - because the orientation points every hub edge AWAY
    from its low-degree endpoint.
  * pagerank's per-iteration cost is two node-keyed shuffles over a
    rank frame of one row per node; wall-clock per iteration grows
    ~linearly in edges, and sum(rank) == 1 holds on every variant.
    Each row reports the path pagerank took (`pr_path`: "driver" when
    the aggregated edge list, `pr_edges`, fits the broadcast budget,
    else "distributed"), so only distributed rows time the loop.

The 10x graphs are derived in-memory from the sf0.1 overlap graph
(no synthetic testdata is written):
  clean   10 disjoint replicas (node id + replica * 10^6)
  hub     the clean graph plus one planted hub node connected to
          every replica-0 node (heavy-tail degree injection)

Usage: python scripts/graph_scale_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from txf_continuous_data_pipeline_spark.operators.graph import (
    pagerank,
    triangle_count,
)
from txf_continuous_data_pipeline_spark.operators.linkage import (
    interval_overlap_pairs,
)
from txf_continuous_data_pipeline_spark.operators.relational import (
    session_stats,
)
from txf_continuous_data_pipeline_spark.session import get_spark
from txf_continuous_data_pipeline_spark.sources import read_table

OFFSET = 1_000_000


def base_edges(spark, sf_dir):
    events = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .where(F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp"))
    )
    sess = session_stats(
        events, key_col="user_id", ts_col="ts", gap="30 minutes"
    )
    pairs = interval_overlap_pairs(
        sess,
        entity_col="user_id",
        seq_col="session_seq",
        start_col="session_start",
        end_col="session_end",
        bucket="minute",
    )
    return (
        pairs.select(
            F.col("entity_a").cast("long").alias("id_a"),
            F.col("entity_b").cast("long").alias("id_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def replicate(spark, edges, n=10):
    reps = spark.range(n).select(F.col("id").alias("_r"))
    return (
        edges.crossJoin(F.broadcast(reps))
        .select(
            (F.col("id_a") + F.col("_r") * OFFSET).alias("id_a"),
            (F.col("id_b") + F.col("_r") * OFFSET).alias("id_b"),
        )
        .localCheckpoint(eager=True)
    )


def with_hub(edges):
    hub = 99 * OFFSET
    nodes0 = (
        edges.where(F.col("id_a") < OFFSET)
        .select(F.col("id_a").alias("n"))
        .unionByName(
            edges.where(F.col("id_b") < OFFSET).select(
                F.col("id_b").alias("n")
            )
        )
        .distinct()
    )
    hub_edges = nodes0.select(
        F.col("n").alias("id_a"), F.lit(hub).cast("long").alias("id_b")
    )
    return edges.unionByName(hub_edges).localCheckpoint(eager=True)


def wedge_mass(edges):
    """The probe observable: wedges enumerated under the same
    degree-(then id) orientation triangle_count uses."""
    e = edges.select(
        F.least("id_a", "id_b").alias("a"),
        F.greatest("id_a", "id_b").alias("b"),
    ).distinct()
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
    ranked = (
        sym.join(deg.withColumnRenamed("a", "_na"), F.col("a") == F.col("_na"))
        .drop("_na")
        .withColumnRenamed("_d", "_da")
        .join(
            deg.withColumnRenamed("a", "_nb").withColumnRenamed("_d", "_db"),
            F.col("b") == F.col("_nb"),
        )
        .drop("_nb")
    )
    fwd = ranked.where(
        (F.col("_da") < F.col("_db"))
        | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    ).select("a", "b").localCheckpoint(eager=True)
    w1, w2 = fwd.alias("w1"), fwd.alias("w2")
    return (
        w1.join(
            w2,
            (F.col("w1.a") == F.col("w2.a"))
            & (F.col("w1.b") < F.col("w2.b")),
        ).count()
    )


def probe(name, edges):
    n_edges = edges.count()
    wedges = wedge_mass(edges)
    t0 = time.time()
    n_tri = triangle_count(edges).collect()[0]["n_triangles"]
    t_tri = time.time() - t0
    t0 = time.time()
    pr_stats = {}
    ranks = pagerank(edges, n_iter=10, stats=pr_stats)
    row = ranks.agg(
        F.count(F.lit(1)).alias("n"), F.sum("rank").alias("s")
    ).collect()[0]
    t_pr = time.time() - t0
    out = {
        "graph": name,
        "edges": n_edges,
        "wedges": wedges,
        "triangles": n_tri,
        "tri_sec": round(t_tri, 2),
        "nodes": row["n"],
        "rank_sum": round(row["s"], 9),
        "pagerank10_sec": round(t_pr, 2),
        # a factor small enough for pagerank's driver path is not a
        # distributed-loop timing
        "pr_path": pr_stats["path"],
        "pr_edges": pr_stats["edges"],
    }
    print(json.dumps(out))
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("graph_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = base_edges(spark, sf_dir)
    r_base = probe("sf0.1", base)
    ten = replicate(spark, base, 10)
    r_ten = probe("x10_clean", ten)
    r_hub = probe("x10_hub", with_hub(ten))
    print(
        json.dumps(
            {
                "wedge_growth_x10": round(
                    r_ten["wedges"] / r_base["wedges"], 2
                ),
                "hub_degree": r_hub["edges"] - r_ten["edges"],
                "hub_extra_wedges": r_hub["wedges"] - r_ten["wedges"],
                "triangle_growth_x10": round(
                    r_ten["triangles"] / max(r_base["triangles"], 1), 2
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
