"""The frozen query list of the eager_queries workload.

Rule, applied once to the registry and not recomputed at run time (a
change that cuts jobs must not change the list): an oracle-paired query
whose DuckDB oracle matched on the benchmark's seeded inputs and whose
registry call, before any materialization, starts at least 5 Spark
jobs. Measured on seeded inputs at sf 0.02 with local[4], 23 queries
qualify. The list keeps three of them, which covers the two mechanisms
that make a query eager:

- event_type_pagerank: 45 jobs in the call, an iteration loop over a
  one-row-per-node frame;
- neardup_groups: 29 jobs, builds a session-cached component artifact
  that later passes reuse;
- bm25_index_topk: 9 jobs in the call and 11 in materialization, builds
  a session-cached postings index.

Three, not twenty: one cold pass of eight such queries (the three above
plus web_pipeline_funnel, embedding_curation_pipeline, kmeans_clusters,
ivfpq_trained_topk and line_dedup_delta) took 47 s on a 4-core host,
more than a whole benchmark run may take.
"""

EAGER_QUERIES = ["event_type_pagerank", "neardup_groups", "bm25_index_topk"]
