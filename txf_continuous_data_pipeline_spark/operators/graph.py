"""Distributed connected components over a pair/edge table.

The missing last stage of every near-duplicate pipeline: LSH/Jaccard
verification emits PAIRS (a~b, b~c), but curation needs GROUPS — the
transitive closure {a,b,c} with one representative. The reference has no
graph stage (its dedup is a scalar watermark, /root/reference/main.py:
548-558); this is part of the beyond-the-reference training-data layer.

Algorithm: alternating large-star / small-star edge rewrites (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
MapReduce and Beyond", SOCC'14). Each phase points nodes at the minimum
of their closed neighborhood:

  large-star: every edge (u, v) with v > u becomes (m(u), v)
  small-star: every edge (u, v) with v <= u, plus (u itself), becomes
              (m(u), v)

where m(u) = min(N(u) ∪ {u}). At the fixpoint every component is a star
rooted at its minimum id, and labels read off as min over the closed
neighborhood. Convergence is O(log n) ROUNDS REGARDLESS OF ID
PLACEMENT — the property the previous min-label-propagation + one-step
pointer-doubling implementation here did NOT have: label-of-label
compression only helps when a node's stale label later learns a smaller
value, so an adversarial id layout (ids descending along a chain)
degrades it to one hop per round, O(n) rounds. Measured on random-id
paths: n=1000 took up to 773 rounds for min-label propagation vs 11 for
the star rounds — past any sane max_iter and fatal at 100 TB component
diameters. (The sf0.1 near-dup graph has diameter-13 chains already.)

Scale notes (100 TB):
  - each phase is one groupBy(min) shuffle plus an a-side join that
    reuses the same hash partitioning, then a distinct; edge count
    never grows beyond O(n + m) (paper, Lemma 1-2), so memory is
    bounded by the input edge list.
  - lineage is cut with an eager localCheckpoint() per round — without
    it the plan doubles per iteration and the driver chokes on plan
    analysis long before data is a problem.
  - the per-round convergence probe is a cheap scan of the freshly
    checkpointed edge frame (count + order-independent bit_xor of edge
    hashes); a signature match is then CONFIRMED by an exact
    label-consistency join before the loop exits, so a 64-bit
    coincidence cannot yield wrong output.
  - the star rounds only run above the driver edge budget
    (_driver_edge_budget, from spark.sql.autoBroadcastJoinThreshold);
    an edge list that fits is collected once and labeled in numpy,
    the same size gate pagerank uses.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .dedup import _size_conf_bytes


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list -> canonical (a < b) distinct pairs,
    self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _star_phase(e: DataFrame, phase: str, *, dedup: bool = True) -> DataFrame:
    """One large-star or small-star rewrite of canonical edges.

    m(u) is attached to every (u, v) row with ONE shuffle via a window
    min over partition u (a groupBy+join formulation costs two). Star
    roots are hot keys by construction — that is inherent to the
    algorithm (the root must see its members) and bounded by component
    size; the paper's load argument is that total edge volume stays
    O(n + m) per round.

    dedup=False skips the trailing distinct — safe for the LARGE phase
    feeding directly into the small phase (r14, guide §2.4): the small
    phase's window min is duplicate-insensitive, its own trailing
    distinct restores canonical form, and the undeduped large output is
    still bounded at |sym| = 2|e| rows (each sym row emits at most one
    edge), so edge volume stays O(n + m) without the extra exchange."""
    from pyspark.sql import Window

    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    w = Window.partitionBy("a")
    j = sym.withColumn(
        "_m", F.least(F.min("b").over(w), F.col("a"))
    )
    if phase == "large":
        # (u, v) with v > u  ->  (m(u), v); m(u) <= u < v so the emit
        # is already canonical, and never a self-loop.
        out = j.where(F.col("b") > F.col("a")).select(
            F.col("_m").alias("a"), F.col("b")
        )
    else:
        # (u, v) with v < u -> (m(u), v), plus each node's own
        # (m(u), u) hook — emitted from every sym row of u and deduped
        # by the final distinct (cheaper than a row_number pick);
        # canonical because m(u) <= v/u, self-loops dropped below.
        nbrs = j.where(F.col("b") < F.col("a")).select(
            F.least("_m", "b").alias("a"),
            F.greatest("_m", "b").alias("b"),
        )
        hooks = j.select(F.col("_m").alias("a"), F.col("a").alias("b"))
        out = nbrs.unionByName(hooks)
    out = out.where(F.col("a") != F.col("b"))
    return out.distinct() if dedup else out


def _driver_edge_budget(spark) -> int:
    """Most edges a graph operator (pagerank, connected_components)
    collects to the driver to run its loop in numpy, or -1 when the
    driver path is off.

    Derived from spark.sql.autoBroadcastJoinThreshold, which already
    means "small enough to hold on the driver and every executor"; an
    edge row (two ids, plus a double weight for pagerank) is charged 64
    bytes, a generous bound on its Arrow footprint. A negative
    threshold (-1: no broadcasts) keeps every graph on the distributed
    path."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if raw.strip().startswith("-"):
        return -1
    # capped so the probe's limit(budget + 1) stays a valid int
    return min(_size_conf_bytes(raw, default=10 << 20) // 64, (1 << 31) - 2)


def _components_local(spark, tbl, id_type, stats):
    """Min-id components of a collected Arrow (a, b) edge list in numpy
    -> one createDataFrame of (id, component).

    Node indices follow sorted id order, so the smallest index of a
    group is its smallest id. Each round hooks every root that has an
    edge to a smaller root onto the smallest such root (vectorised
    minimum.at), then pointer-jumps every node to its root until the
    parent array stops changing. A hook only ever points a root at a
    smaller one, so the trees stay acyclic and each root is its tree's
    minimum; the loop ends when no edge joins two roots, i.e. each tree
    is exactly one component."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructField, StructType

    a, b = tbl.column("a"), tbl.column("b")
    ids = pc.unique(pa.chunked_array(a.chunks + b.chunks, type=a.type))
    ids = ids.take(pc.sort_indices(ids))
    ai = pc.index_in(a, value_set=ids).to_numpy()
    bi = pc.index_in(b, value_set=ids).to_numpy()
    parent = np.arange(len(ids))
    rounds = 0
    while True:
        ra, rb = parent[ai], parent[bi]
        cross = ra != rb
        if not cross.any():
            break
        rounds += 1
        ra, rb = ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    if stats is not None:
        stats.update(path="driver", edges=tbl.num_rows, rounds=rounds)
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    return spark.createDataFrame(
        pa.table({"id": ids, "component": ids.take(pa.array(parent))}),
        schema=schema,
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 20,
    strict: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve undirected edges to (id, component) with component = min
    node id reachable. Only nodes that appear in an edge are returned
    (isolated rows are their own singleton group by definition — union
    them in at the call site if needed); a self-loop alone keeps its
    node. Edges with a null endpoint are dropped.

    Two paths over the same input edges, which are read once into a
    lazy local checkpoint (the pagerank size gate):
      - driver: a probe collects at most budget + 1 edges through Arrow
        (_driver_edge_budget); when the whole list arrived, numpy hooks
        and pointer-jumps to the exact components (_components_local) -
        one collect instead of ~30 Spark jobs of star rounds on a tiny
        graph. max_iter does not apply: the fixpoint is always reached.
      - distributed: above the budget, the star rounds below.

    Convergence contract (distributed path): alternating star rounds
    converge in O(log n) rounds independent of id placement (see module
    docstring), so the default max_iter=20 covers ~10^6-diameter graphs
    with margin. If the loop exhausts max_iter without the exact
    convergence check passing, the result is WRONG (partially
    contracted), so strict=True (default) raises; strict=False
    downgrades to a warning for exploratory use.

    stats, if given, is filled with {"path": "driver" | "distributed",
    "edges": n, "rounds": r}: n is the input edge count (null endpoints
    dropped) the size gate compared against its budget; r is the number
    of large+small star rounds executed, or on the driver path the
    numpy hook rounds - the scale-probe observable (SCALE.md quantifies
    its growth vs corpus size)."""
    spark = edges.sparkSession
    # One pass over the input for either path: the size probe fills
    # this lazy checkpoint, and the distributed build reads it back.
    # Null endpoints are dropped here, before the path choice, so both
    # paths agree (least/greatest alone would skip the null and keep
    # the other endpoint as a node).
    ck = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .localCheckpoint(eager=False)
    )
    budget = _driver_edge_budget(spark)
    if budget >= 0:
        tbl = ck.limit(budget + 1).toArrow()
        if tbl.num_rows <= budget:
            return _components_local(
                spark, tbl, ck.schema["a"].dataType, stats
            )
    # repartition("a") FIRST, dedup after: HashPartitioning(a) satisfies
    # the (a, b) clustering the dedup aggregate needs (same-key rows
    # share a), so entry canonicalization costs ONE exchange instead of
    # distinct's (a, b) exchange followed by the repartition (r14,
    # guide §2.4 "two operations keyed the same way share one exchange").
    e0 = (
        ck.where(F.col("a") != F.col("b"))
        .repartition(F.col("a"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    # Node universe from the un-deduplicated edges (keeps self-loop-only
    # nodes, which the working set e0 drops).
    nodes = (
        ck.select(F.col("a").alias("id"))
        .unionByName(ck.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _labels(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        fold = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("component")
        )
        return nodes.join(
            fold, nodes["id"] == fold["a"], "left"
        ).select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )

    def _sig(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    def _confirmed_labels(e: DataFrame) -> DataFrame | None:
        # Exact convergence check: every ORIGINAL edge must connect
        # same-labeled nodes, which is necessary and sufficient for the
        # labels to be the true components (each label is a member of
        # its own group, so distinct groups cannot share one). The
        # labels are checkpointed once and RETURNED on success, so the
        # caller's action reuses this materialization instead of
        # recomputing _labels from scratch (r14).
        lab = _labels(e).localCheckpoint(eager=True)
        la = lab.select(
            F.col("id").alias("a"), F.col("component").alias("_ca")
        )
        lb = lab.select(
            F.col("id").alias("b"), F.col("component").alias("_cb")
        )
        bad = (
            e0.join(la, "a")
            .join(lb, "b")
            .where(F.col("_ca") != F.col("_cb"))
            .limit(1)
            .count()
        )
        return lab if bad == 0 else None

    e = e0
    sig = _sig(e)
    final_lab = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # No repartition before the checkpoint: the phase's trailing
        # distinct already hash-partitioned on (a, b), and the next
        # round's window re-shuffles on a regardless — an extra
        # repartition(a) here is a pure wasted exchange per round.
        # inner large phase skips its distinct (see _star_phase dedup
        # note): 3 exchanges per round instead of 4, identical fixpoint
        e = _star_phase(
            _star_phase(e, "large", dedup=False), "small"
        ).localCheckpoint(eager=True)
        new_sig = _sig(e)
        # signature stability is probabilistic (64-bit xor): confirm
        if new_sig == sig:
            final_lab = _confirmed_labels(e)
            if final_lab is not None:
                break
        sig = new_sig
    if stats is not None:
        # a count of the checkpoint, not an Observation: an empty input
        # runs no task, and an observation without a task has no value
        stats.update(path="distributed", edges=ck.count(), rounds=rounds)
    if final_lab is None:
        # The fixpoint may land exactly on the FINAL round (every
        # in-loop signature compare saw a change). One exact
        # label-consistency probe distinguishes "converged,
        # unconfirmed" from genuinely unfinished - without it a correct
        # result would raise (the r4 implementation had the same
        # rescue).
        final_lab = _confirmed_labels(e)
    if final_lab is None:
        msg = (
            f"connected_components did not converge within max_iter="
            f"{max_iter} star rounds (O(log n) rounds suffice, so this "
            "graph is far larger than max_iter allows); component "
            "assignments are partially contracted and wrong. Raise "
            "max_iter."
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # converged via a confirm pass -> its checkpointed labels ARE the
    # answer; only the non-strict unconverged path recomputes lazily
    return final_lab if final_lab is not None else _labels(e)


def dedup_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pair table -> (doc_id, component) group assignment;
    component is the smallest doc_id in the transitive-closure group."""
    return connected_components(pairs, id_a, id_b).select(
        F.col("id").alias("doc_id"), F.col("component")
    )


def _pagerank_local(spark, tbl, id_type, *, damping, n_iter, undirected):
    """The distributed loop's power iteration in numpy over a collected
    Arrow (s, d, _w) edge list; one createDataFrame of (id, rank).
    Per-edge shares and the restart/dangling terms use the same
    formulas and operation order as the Spark path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, StructField, StructType

    s, d = tbl.column("s"), tbl.column("d")
    ids = pc.unique(pa.chunked_array(s.chunks + d.chunks, type=s.type))
    si = pc.index_in(s, value_set=ids).to_numpy()
    di = pc.index_in(d, value_set=ids).to_numpy()
    w = tbl.column("_w").to_numpy()
    n = len(ids)
    deg = np.bincount(si, weights=w, minlength=n)
    # dangling = no out-edge at all (the Spark path's left_anti)
    dangling = np.bincount(si, minlength=n) == 0
    r = np.full(n, 1.0 / max(n, 1))
    for _ in range(n_iter if n else 0):  # no edges -> empty frame
        inn = np.bincount(di, weights=r[si] * w / deg[si], minlength=n)
        if not undirected:
            inn = inn + r[dangling].sum() / float(n)
        r = (1.0 - damping) / n + damping * inn
    schema = StructType(
        [
            StructField("id", id_type),
            StructField("rank", DoubleType(), False),
        ]
    )
    return spark.createDataFrame(
        pa.table({"id": ids, "rank": pa.array(r, pa.float64())}),
        schema=schema,
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    damping: float = 0.85,
    n_iter: int = 10,
    undirected: bool = True,
    weight_col: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """PageRank over an edge table -> (id, rank), sum(rank) == 1.

    The second iterative graph operator (next to connected_components):
    rank mass spreads along edges proportionally to `weight_col` (or
    with uniform out-weight when None), restarting
    with probability 1-damping. Undirected inputs are symmetrized so
    every node has out-degree >= 1 (no dangling mass); for directed
    inputs, dangling-node mass is redistributed uniformly each
    iteration via one 1-row broadcast scalar. Edges with a null
    endpoint are dropped (a null node cannot join, so it would leak
    rank mass).

    Two paths over the same aggregated edge list, which is computed
    once (one pass over the input) into a local checkpoint:
      - driver: a probe collects at most budget + 1 edges through
        Arrow (_driver_edge_budget); when the whole list arrived, the
        power iteration runs in numpy - one collect instead of ~40
        Spark jobs of per-iteration joins on a tiny graph;
      - distributed: above the budget, per iteration one join of the
        (static, checkpointed, degree-annotated) edge table with the
        current rank frame on src + one groupBy(dst) sum - both
        shuffles keyed on node id; the rank frame is one row per node.
    Fixed n_iter (deterministic plan count) rather than a convergence
    probe: power iteration's error decays as damping^k, so 10
    iterations ≈ 0.2% mass error — callers wanting tighter bounds raise
    n_iter.

    stats, if given, is filled with {"path": "driver" | "distributed",
    "edges": n} - n is the aggregated directed edge count the size gate
    compared against its budget.
    """
    spark = edges.sparkSession
    wcol = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), wcol.alias("_w")
    ).where(F.col("s").isNotNull() & F.col("d").isNotNull())
    if undirected:
        e = e.unionByName(
            e.select(
                F.col("d").alias("s"), F.col("s").alias("d"), F.col("_w")
            )
        )
    e = e.groupBy("s", "d").agg(F.sum("_w").alias("_w"))
    if weight_col is None:
        # unweighted contract: duplicate input edges must NOT become
        # implicit weights - each distinct edge carries weight 1 (the
        # docstring's uniform out-weight promise)
        e = e.withColumn("_w", F.lit(1.0))
    # One pass over the input for either path: the size probe fills
    # this lazy checkpoint, and the distributed build reads it back.
    e = e.localCheckpoint(eager=False)
    budget = _driver_edge_budget(spark)
    if budget >= 0:
        tbl = e.limit(budget + 1).toArrow()
        if tbl.num_rows <= budget:
            if stats is not None:
                stats.update(path="driver", edges=tbl.num_rows)
            return _pagerank_local(
                spark, tbl, e.schema["s"].dataType,
                damping=damping, n_iter=n_iter, undirected=undirected,
            )
    # _deg is the out-weight normalizer: edge share = w / sum(out w)
    out_deg = e.groupBy("s").agg(F.sum("_w").alias("_deg"))
    obs = Observation()
    ew = (
        e.join(out_deg, "s")
        .observe(obs, F.count(F.lit(1)).alias("edges"))
        .repartition(F.col("s"))
        .localCheckpoint(eager=True)
    )
    if stats is not None:
        stats.update(path="distributed", edges=obs.get["edges"])
    nodes = (
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # no edges -> empty rank frame with the right schema (not a
        # driver-side ZeroDivisionError)
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for it in range(n_iter):
        contribs = (
            ew.join(ranks, ew["s"] == ranks["id"])
            .select(
                F.col("d").alias("id"),
                (F.col("rank") * F.col("_w") / F.col("_deg")).alias("_c"),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("_in"))
        )
        if undirected:
            dangling = F.lit(0.0)
        else:
            # mass on nodes with no out-edges, redistributed uniformly
            dang = ranks.join(
                out_deg, ranks["id"] == out_deg["s"], "left_anti"
            ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
            dangling = F.broadcast(dang)
        new = nodes.join(contribs, "id", "left").select(
            "id", F.coalesce("_in", F.lit(0.0)).alias("_in")
        )
        if not undirected:
            new = new.crossJoin(dangling).withColumn(
                "_in", F.col("_in") + F.col("_dm") / F.lit(float(n_nodes))
            )
        ranks = new.select(
            "id",
            (
                F.lit((1.0 - damping) / n_nodes)
                + F.lit(damping) * F.col("_in")
            ).alias("rank"),
        )
        # Cut lineage every third iteration (and on the last): an eager
        # checkpoint per iteration costs one materialization job each,
        # and a 3-iteration plan is still trivially analyzable. Uncut,
        # the directed plan doubles per iteration (it reads `ranks`
        # twice: the contribution join and the dangling anti-join); the
        # undirected plan reads it once and grows linearly.
        if it % 3 == 2 or it == n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Global triangle count over an undirected edge table -> one row
    (n_triangles long).

    The naive 3-way self-join touches every wedge twice per triangle
    and explodes on skewed (hub) nodes. The standard fix (Cohen's
    MapReduce formulation) orients each edge from the lower-(degree,
    id) endpoint to the higher: every triangle then has exactly ONE
    wedge whose center precedes both ends, wedge enumeration is
    bounded by sum(min-degree per edge) = O(m^1.5) on any graph, and a
    hub of degree d generates wedges only toward its few
    HIGHER-ordered neighbors instead of d^2 pairs. Plan: degree
    aggregate + two equi-joins on node id, all hash-partitioned the
    same way.
    """
    # Eagerly cut the upstream lineage once: the canonical edge list is
    # referenced by the degree aggregate AND both oriented copies below,
    # and its producer can itself be an expensive build (the overlap
    # query derives it from a full sessionize -> interval-join -> distinct
    # chain). Without the cut that whole chain re-runs ~3x — the r5 plan
    # audit measured 71 exchanges with zero reuse. Same discipline as
    # connected_components above.
    e = _canon_edges(edges, src, dst).localCheckpoint(eager=True)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
    ranked = (
        sym.join(deg.withColumnRenamed("a", "_na"),
                 F.col("a") == F.col("_na"))
        .drop("_na")
        .withColumnRenamed("_d", "_da")
        .join(deg.withColumnRenamed("a", "_nb").withColumnRenamed(
            "_d", "_db"), F.col("b") == F.col("_nb"))
        .drop("_nb")
    )
    # orient low -> high in (degree, id) order; keep each edge once
    # fwd feeds three consumers (both wedge sides + the closing-edge
    # probe); materialize it once so the degree join above runs once.
    fwd = (
        ranked.where(
            (F.col("_da") < F.col("_db"))
            | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    w1 = fwd.alias("w1")
    w2 = fwd.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.a") == F.col("w2.a")) & (F.col("w1.b") < F.col("w2.b")),
    ).select(F.col("w1.b").alias("x"), F.col("w2.b").alias("y"))
    # no distinct: fwd keeps each canonical edge exactly once (e is
    # distinct and the orientation picks one direction), so the
    # re-canonicalization cannot create duplicates - a distinct here
    # was a pure wasted exchange
    closing = fwd.select(
        F.least("a", "b").alias("_x"), F.greatest("a", "b").alias("_y")
    )
    tri = wedges.join(
        closing,
        (F.least("x", "y") == F.col("_x"))
        & (F.greatest("x", "y") == F.col("_y")),
    )
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Fold a batch of NEW edges into a stored (id, component) table -
    the incremental form of connected_components for ingest loops
    (online near-dup keeps arriving; recomputing CC over the
    accumulated pair store per batch is O(corpus) and climbing).

    Algorithm (the standard label-contraction fold):
      1. endpoints of the new edges look up their current component
         (unseen node -> its own id) - a batch-bounded broadcast join;
      2. new edges CONTRACT to component-label space; edges inside one
         component vanish, so the contracted graph is bounded by the
         BATCH edge count, never the corpus;
      3. connected_components runs on the contracted graph only
         (min-label semantics compose: a stored label is the min id of
         its members, a fresh node's label is its id, so the merged
         min-of-labels IS the global min id);
      4. the stored table relabels via the (old label -> new label)
         mapping - one scan of the label table with the mapping
         BROADCAST (batch-bounded), no corpus shuffle; at 100 TB a
         label table bucketed on a component-hash prunes this to the
         touched buckets.

    Per-batch corpus-side cost is exactly TWO scans of the label
    table (the endpoint lookup probes it against a broadcast of the
    batch's endpoints; the relabel pass rewrites it) and ZERO corpus
    shuffles - every join broadcasts a batch-bounded side (r10 review:
    an earlier eps-LEFT-JOIN-labels form could not build-broadcast
    the outer side and sort-merged the full label table per batch).

    Returns the updated (id, component) table covering all previously
    stored nodes plus the batch's nodes. The sequential fold over edge
    batches equals batch connected_components over the union edge set
    EXACTLY (pinned in tests/test_graph.py, including the adversarial
    case of a later-arriving node whose id undercuts - and therefore
    relabels - an entire stored component)."""
    # null endpoints are dropped, as in connected_components; a
    # (x, NULL) edge would otherwise add a (NULL, NULL) label row
    e = _canon_edges(new_edges, src, dst)
    eps = (
        new_edges.select(F.col(src).alias("id"))
        .unionByName(new_edges.select(F.col(dst).alias("id")))
        .where(F.col("id").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # batch-bounded
    )
    # endpoint lookup: probe the corpus-sized label table against a
    # BROADCAST of the batch endpoints (build-right semi join - one
    # label scan, no shuffle); the eps-left-join form would sort-merge
    # the whole table per batch
    seen = labels.join(
        F.broadcast(eps), "id", "left_semi"
    ).localCheckpoint(eager=True)  # batch-bounded result
    new_nodes = eps.join(
        F.broadcast(seen.select("id")), "id", "left_anti"
    )
    ep_lab = (
        seen.select("id", F.col("component").alias("c0"))
        .unionByName(new_nodes.select("id", F.col("id").alias("c0")))
        .localCheckpoint(eager=True)  # feeds both contraction sides
    )
    ma = ep_lab.select(F.col("id").alias("a"), F.col("c0").alias("ca"))
    mb = ep_lab.select(F.col("id").alias("b"), F.col("c0").alias("cb"))
    contracted = (
        e.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .where(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("id_a"), F.col("cb").alias("id_b"))
    )
    base = labels.unionByName(
        new_nodes.select("id", F.col("id").alias("component"))
    )
    if contracted.isEmpty():
        return base
    merged = connected_components(contracted, "id_a", "id_b")
    mapping = merged.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("component"), F.col("component").alias("_new")
    )
    return base.join(F.broadcast(mapping), "component", "left").select(
        "id",
        F.coalesce("_new", F.col("component")).alias("component"),
    )
