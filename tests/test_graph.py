"""connected_components / dedup_components: clique, chain, disconnected
groups, undirected symmetry, and the max_iter convergence contract;
connected_components and pagerank on both of their paths (driver numpy
and distributed loop); triangle_count and incremental_components."""

from __future__ import annotations

import contextlib

import pytest

from txf_continuous_data_pipeline_spark.operators.graph import (
    connected_components,
    dedup_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


_BCAST = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _bcast_threshold(spark, value):
    """Set the broadcast threshold the graph operators' driver edge
    budget derives from ("-1" turns their driver path off); the
    previous value is restored afterwards."""
    prev = spark.conf.get(_BCAST)
    spark.conf.set(_BCAST, value)
    try:
        yield
    finally:
        spark.conf.set(_BCAST, prev)


@pytest.fixture(params=["driver", "distributed"])
def gate_path(request, spark):
    """Run a pagerank / connected_components test on both paths: the
    default broadcast budget collects these small graphs to the driver;
    -1 forces the distributed loop."""
    if request.param == "driver":
        yield request.param
    else:
        with _bcast_threshold(spark, "-1"):
            yield request.param


def _components(edges, path, **kw):
    """connected_components -> {id: component}, asserting the size gate
    took `path`."""
    stats = {}
    out = connected_components(edges, stats=stats, **kw)
    assert stats["path"] == path, stats
    return _labels(out)


def _ranks(edges, path, **kw):
    """pagerank -> {id: rank}, asserting the size gate took `path`."""
    from txf_continuous_data_pipeline_spark.operators.graph import pagerank

    stats = {}
    out = pagerank(edges, stats=stats, **kw)
    assert stats["path"] == path, stats
    return {r["id"]: r["rank"] for r in out.collect()}


def test_clique_collapses_to_min_id(spark):
    # 4-clique on {10,11,12,13}: every node labels to 10.
    pairs = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
    got = _labels(connected_components(_edges(spark, pairs)))
    assert got == {10: 10, 11: 10, 12: 10, 13: 10}


def test_chain_converges_within_diameter_rounds(spark, gate_path):
    # 0-1-2-...-7 chain: diameter 7, min-label floods down to 0; on the
    # distributed path the exact confirm pass ends the loop.
    pairs = [(i, i + 1) for i in range(7)]
    got = _components(_edges(spark, pairs), gate_path, max_iter=8)
    assert got == {i: 0 for i in range(8)}


def test_disconnected_components_stay_separate(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21)]
    got = _labels(connected_components(_edges(spark, pairs)))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_edge_direction_is_irrelevant(spark):
    # (b, a) edges with b > a: propagation must still flow both ways.
    fwd = _labels(connected_components(_edges(spark, [(1, 5), (5, 9)])))
    rev = _labels(connected_components(_edges(spark, [(9, 5), (5, 1)])))
    assert fwd == rev == {1: 1, 5: 1, 9: 1}


def test_max_iter_exhaustion_raises_by_default(spark):
    # A 9-hop chain cannot converge in 2 star rounds -> strict raises.
    # (max_iter bounds the distributed loop only; the driver path
    # always reaches its fixpoint.)
    pairs = [(i, i + 1) for i in range(9)]
    with _bcast_threshold(spark, "-1"), pytest.raises(
        RuntimeError, match="did not converge"
    ):
        connected_components(_edges(spark, pairs), max_iter=2)


def test_max_iter_exhaustion_warns_when_not_strict(spark):
    pairs = [(i, i + 1) for i in range(9)]
    with _bcast_threshold(spark, "-1"), pytest.warns(
        RuntimeWarning, match="did not converge"
    ):
        connected_components(_edges(spark, pairs), max_iter=2, strict=False)


def test_dedup_components_renames_to_doc_id(spark):
    pairs = _edges(spark, [(100, 200), (200, 300)])
    rows = {
        r["doc_id"]: r["component"] for r in dedup_components(pairs).collect()
    }
    assert rows == {100: 100, 200: 100, 300: 100}


def test_stop_shingle_filter_drops_only_hot_shingles(spark):
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        stop_shingle_filter,
    )

    # shingle 'hot' appears in 4 docs, the rest in <= 2
    rows = [(d, "hot") for d in range(4)] + [(0, "a"), (1, "a"), (2, "b")]
    inv = spark.createDataFrame(rows, "doc_id long, shingle string")
    kept = stop_shingle_filter(inv, max_doc_freq=2)
    shingles = {r["shingle"] for r in kept.select("shingle").distinct().collect()}
    assert shingles == {"a", "b"}
    # a permissive cap is the identity
    assert stop_shingle_filter(inv, max_doc_freq=10).count() == inv.count()


def test_random_graph_matches_union_find(spark, gate_path):
    # Differential against a pure-Python union-find on a seeded random
    # graph: mixed component shapes (cliques, chains, stars, isolated
    # pairs) that no hand-written case enumerates.
    import random

    rng = random.Random(20240813)
    n_nodes, n_edges = 300, 220
    pairs = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for ab in pairs for x in ab}
    want = {}
    for x in touched:
        root = find(x)
        group_min = min(y for y in touched if find(y) == root)
        want[x] = group_min

    got = _components(_edges(spark, pairs), gate_path)
    assert got == want


def test_adversarial_id_layout_converges_logarithmically(spark, gate_path):
    # Descending ids along a chain: min-label propagation (the previous
    # implementation here) needs O(n) rounds on this layout because a
    # node's stale label never learns a smaller value to jump through.
    # The star rounds must close a 300-node chain in ~log2(n) rounds;
    # the driver path's hook + pointer-jump rounds must do no worse.
    pairs = [(300 - i, 300 - i - 1) for i in range(299)]
    stats = {}
    got = _labels(
        connected_components(_edges(spark, pairs), stats=stats)
    )
    assert stats["path"] == gate_path, stats
    assert got == {i: 1 for i in range(1, 301)}
    assert stats["rounds"] <= 12, stats


def test_components_null_endpoints_dropped(spark, gate_path):
    # an edge with a null endpoint used to put a (NULL, NULL) row in
    # the output; such edges are dropped, a self-loop alone keeps its
    # node
    e = _edges(spark, [(1, 2), (2, 3), (3, None), (7, 7), (None, None)])
    stats = {}
    got = _labels(connected_components(e, stats=stats))
    assert stats["path"] == gate_path, stats
    assert stats["edges"] == 3, stats
    assert got == {1: 1, 2: 1, 3: 1, 7: 7}


def test_components_empty_edge_table(spark, gate_path):
    from pyspark.sql.types import StringType

    e = spark.createDataFrame([], "id_a string, id_b string")
    stats = {}
    out = connected_components(e, stats=stats)
    assert stats["path"] == gate_path, stats
    assert stats["edges"] == 0, stats
    assert out.columns == ["id", "component"]
    assert out.schema["id"].dataType == StringType()
    assert out.schema["component"].dataType == StringType()
    assert out.collect() == []


def test_components_budget_boundary(spark):
    """The largest edge list inside the broadcast budget takes the
    driver path; one more edge takes the distributed path."""
    from txf_continuous_data_pipeline_spark.operators.graph import (
        _driver_edge_budget,
    )

    with _bcast_threshold(spark, "192b"):
        budget = _driver_edge_budget(spark)
        assert budget >= 1
        chain = [(i + 1, i) for i in range(budget + 1)]
        for pairs, path in ((chain[:-1], "driver"), (chain, "distributed")):
            stats = {}
            got = _labels(
                connected_components(_edges(spark, pairs), stats=stats)
            )
            assert stats["path"] == path, stats
            assert stats["edges"] == len(pairs), stats
            assert got == {i: 0 for i in range(len(pairs) + 1)}


def test_components_driver_path_job_count(spark):
    """The driver path is one Arrow collect of the checkpointed edge
    list: build + collect stay within 3 Spark jobs (the star rounds
    started ~30 on the same graph)."""
    sc = spark.sparkContext
    group = "test_components_driver_path_job_count"
    e = _edges(spark, [(1, 2), (2, 3), (5, 4), (6, 6), (9, 8), (8, 7)])
    stats = {}
    sc.setJobGroup(group, "connected_components driver path")
    try:
        got = _labels(connected_components(e, stats=stats))
    finally:
        sc.setJobGroup(None, None)
    assert stats["path"] == "driver"
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7, 8: 7, 9: 7}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_pagerank_matches_numpy_power_iteration(spark, gate_path):
    import random

    import numpy as np

    rng = random.Random(42)
    n = 40
    pairs = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(80)
            )
            if a != b
        }
    )
    got = _ranks(_edges(spark, pairs), gate_path, damping=0.85, n_iter=10)

    nodes = sorted({x for ab in pairs for x in ab})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    A = np.zeros((m, m))
    for a, b in pairs:
        A[idx[b], idx[a]] = 1.0
        A[idx[a], idx[b]] = 1.0
    A /= A.sum(axis=0, keepdims=True)
    r = np.full(m, 1.0 / m)
    for _ in range(10):
        r = (1 - 0.85) / m + 0.85 * (A @ r)

    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-12, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_directed_dangling_mass(spark, gate_path):
    # 1 -> 2 -> 3, node 3 dangling: mass must be conserved.
    e = _edges(spark, [(1, 2), (2, 3)])
    got = _ranks(e, gate_path, undirected=False, n_iter=20)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[3] > got[2] > got[1]


@pytest.mark.parametrize("undirected", [True, False])
def test_pagerank_null_endpoint_keeps_unit_mass(spark, gate_path, undirected):
    # a null endpoint used to leak mass through the inner joins
    # (sum 0.472 undirected, 0.306 directed); such edges are dropped
    e = _edges(spark, [(1, 2), (2, 3), (3, None)])
    got = _ranks(e, gate_path, undirected=undirected)
    assert set(got) == {1, 2, 3}
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_empty_edge_table(spark, gate_path):
    from pyspark.sql.types import StringType

    from txf_continuous_data_pipeline_spark.operators.graph import pagerank

    e = spark.createDataFrame([], "id_a string, id_b string")
    stats = {}
    out = pagerank(e, stats=stats)
    assert stats == {"path": gate_path, "edges": 0}
    assert out.schema["id"].dataType == StringType()
    assert out.columns == ["id", "rank"]
    assert out.collect() == []


def test_pagerank_budget_boundary(spark):
    """The largest edge list inside the broadcast budget takes the
    driver path; one more edge takes the distributed path."""
    from txf_continuous_data_pipeline_spark.operators.graph import (
        _driver_edge_budget,
        pagerank,
    )

    with _bcast_threshold(spark, "192b"):
        budget = _driver_edge_budget(spark)
        assert budget >= 1
        chain = [(i, i + 1) for i in range(budget + 1)]
        for pairs, path in ((chain[:-1], "driver"), (chain, "distributed")):
            stats = {}
            got = pagerank(
                _edges(spark, pairs), undirected=False, stats=stats
            ).collect()
            assert stats == {"path": path, "edges": len(pairs)}
            assert abs(sum(r["rank"] for r in got) - 1.0) < 1e-9


def test_pagerank_driver_path_job_count(spark):
    """The driver path is one materialization of the edge list plus
    one Arrow collect: build + collect stay within 6 Spark jobs (the
    distributed loop started ~50 on the same graph)."""
    from txf_continuous_data_pipeline_spark.operators.graph import pagerank

    sc = spark.sparkContext
    group = "test_pagerank_driver_path_job_count"
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5)])
    stats = {}
    sc.setJobGroup(group, "pagerank driver path")
    try:
        pagerank(e, stats=stats).collect()
    finally:
        sc.setJobGroup(None, None)
    assert stats["path"] == "driver"
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_triangle_count_matches_bruteforce(spark):
    import itertools
    import random

    from txf_continuous_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    rng = random.Random(99)
    n = 25
    pairs = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(120)
            )
            if a != b
        }
    )
    got = triangle_count(_edges(spark, pairs)).collect()[0]["n_triangles"]
    es = set(pairs)
    want = sum(
        1
        for x, y, z in itertools.combinations(range(n), 3)
        if (x, y) in es and (y, z) in es and (x, z) in es
    )
    assert got == want > 0


def test_triangle_count_known_shapes(spark):
    from txf_continuous_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    # K4 has 4 triangles; adding a pendant edge changes nothing
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert triangle_count(_edges(spark, k4)).collect()[0][0] == 4
    assert (
        triangle_count(_edges(spark, k4 + [(3, 9)])).collect()[0][0] == 4
    )
    # a path has none
    assert (
        triangle_count(
            _edges(spark, [(i, i + 1) for i in range(5)])
        ).collect()[0][0]
        == 0
    )


def test_weighted_pagerank_matches_numpy(spark, gate_path):
    import random

    import numpy as np

    rng = random.Random(17)
    n = 20
    edges = {}
    for _ in range(60):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges[(a, b)] = edges.get((a, b), 0) + rng.randrange(1, 9)
    df = spark.createDataFrame(
        [(a, b, float(w)) for (a, b), w in edges.items()],
        "id_a long, id_b long, w double",
    )
    got = _ranks(df, gate_path, damping=0.85, n_iter=10, weight_col="w")

    # numpy reference: symmetrized weighted transition matrix
    sym = {}
    for (a, b), w in edges.items():
        sym[(a, b)] = sym.get((a, b), 0) + w
        sym[(b, a)] = sym.get((b, a), 0) + w
    nodes = sorted({x for ab in sym for x in ab})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    A = np.zeros((m, m))
    for (a, b), w in sym.items():
        A[idx[b], idx[a]] = w
    A /= A.sum(axis=0, keepdims=True)
    r = np.full(m, 1.0 / m)
    for _ in range(10):
        r = 0.15 / m + 0.85 * (A @ r)

    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-12, v


def test_star_hub_graph_fast_and_correct(spark):
    # one hub with 5000 leaves: the star algorithm's hot-key case.
    # Must converge in ~2 rounds with every leaf labeled to the min id.
    pairs = [(9999, i) for i in range(5000)]
    stats = {}
    got = _labels(connected_components(_edges(spark, pairs), stats=stats))
    assert stats["rounds"] <= 3, stats
    assert got[9999] == 0 and len(got) == 5001
    assert all(v == 0 for v in got.values())


def test_unweighted_pagerank_ignores_duplicate_edges(spark, gate_path):
    base = _edges(spark, [(1, 2), (1, 3)])
    dup = _edges(spark, [(1, 2), (1, 2), (1, 3)])
    r1 = _ranks(base, gate_path, n_iter=6)
    r2 = _ranks(dup, gate_path, n_iter=6)
    for k in r1:
        assert abs(r1[k] - r2[k]) < 1e-12, k


def test_incremental_components_fold_equals_batch(spark, sf_dir, gate_path):
    """incremental_components: folding edge batches into a stored
    label table must equal batch connected_components over the union
    edge set EXACTLY - including cross-batch merges of previously
    separate components and a later-arriving node whose id undercuts
    (and therefore relabels) an entire stored component."""
    from txf_continuous_data_pipeline_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    # hand-built edge batches engineering every interesting case:
    #   batch 0: {10,11,12} one component (label 10); {20,21} (label 20)
    #   batch 1: bridge 11-20 merges them (label 10); new {30,31}
    #   batch 2: node 5 attaches to 21 -> the whole merged component
    #            relabels to 5; new singleton pair {40,41}; an edge
    #            INSIDE an existing component (10-12, must be a no-op)
    #   batch 3: new node 42 joins {40,41}; its edge to NULL is dropped
    #            as in batch connected_components (no (NULL, NULL) row)
    batches = [
        [(10, 11), (11, 12), (20, 21)],
        [(11, 20), (30, 31)],
        [(5, 21), (40, 41), (10, 12)],
        [(41, 42), (42, None)],
    ]
    labels = spark.createDataFrame([], "id long, component long")
    for rows in batches:
        edges = spark.createDataFrame(rows, "id_a long, id_b long")
        labels = incremental_components(labels, edges).localCheckpoint(
            eager=True
        )
    got = {(r["id"], r["component"]) for r in labels.collect()}

    union = spark.createDataFrame(
        [e for rows in batches for e in rows], "id_a long, id_b long"
    )
    want = set(_components(union, gate_path).items())
    assert got == want
    # the undercut actually happened: everything reachable from 5
    # carries label 5
    comp5 = {i for i, c in got if c == 5}
    assert comp5 == {5, 10, 11, 12, 20, 21}
    assert {i for i, c in got if c == 40} == {40, 41, 42}


def test_incremental_components_fold_on_corpus_pairs(spark, sf_dir):
    """Same fold==batch identity on REAL near-dup pairs: the corpus
    pair frame split into 3 doc-id ranges (cross-range pairs exercise
    the contracted-merge path) folds to exactly the batch CC result."""
    from txf_continuous_data_pipeline_spark.operators.graph import (
        connected_components,
        incremental_components,
    )
    from txf_continuous_data_pipeline_spark.queries.text import (
        _shared_pairs,
    )

    from pyspark.sql import functions as F

    pairs = _shared_pairs(spark, sf_dir).select("id_a", "id_b")
    hi = pairs.agg(
        F.greatest(F.max("id_a"), F.max("id_b")).alias("m")
    ).first()["m"]
    cut1, cut2 = hi // 3, 2 * hi // 3
    batches = [
        pairs.where(F.col("id_b") <= cut1),
        pairs.where((F.col("id_b") > cut1) & (F.col("id_b") <= cut2)),
        pairs.where(F.col("id_b") > cut2),
    ]
    labels = spark.createDataFrame([], "id long, component long")
    for b in batches:
        labels = incremental_components(labels, b).localCheckpoint(
            eager=True
        )
    got = {(r["id"], r["component"]) for r in labels.collect()}
    want = {
        (r["id"], r["component"])
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert got == want


def test_star_round_without_large_phase_dedup_is_identical(spark):
    """r14 optimization pin: a large+small star round with the large
    phase's trailing distinct SKIPPED (the in-loop shape - the small
    phase's window min is duplicate-insensitive and its own distinct
    restores canonical form) must produce the exact edge set of the
    fully-deduped round, and the undeduped large output must stay
    within the |sym| = 2|e| volume bound on adversarial graphs."""
    import random

    from txf_continuous_data_pipeline_spark.operators.graph import (
        _canon_edges,
        _star_phase,
    )

    rng = random.Random(7)
    cases = [
        # chain with descending ids (the adversarial layout)
        [(i + 1, i) for i in range(30)],
        # two dense blobs + bridge + self-dup edges
        [(rng.randrange(12), rng.randrange(12)) for _ in range(60)]
        + [(100 + rng.randrange(8), 100 + rng.randrange(8)) for _ in range(40)]
        + [(5, 104), (3, 3)],
        # star + isolated pairs
        [(0, i) for i in range(1, 15)] + [(50, 51), (60, 61), (60, 62)],
    ]
    for edges in cases:
        df = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
        e = _canon_edges(df, "id_a", "id_b").localCheckpoint(eager=True)
        n_e = e.count()
        large_nodedup = _star_phase(e, "large", dedup=False)
        # volume bound: at most one emit per sym row
        assert large_nodedup.count() <= 2 * n_e
        got = {
            (r["a"], r["b"])
            for r in _star_phase(large_nodedup, "small").collect()
        }
        want = {
            (r["a"], r["b"])
            for r in _star_phase(_star_phase(e, "large"), "small").collect()
        }
        assert got == want
