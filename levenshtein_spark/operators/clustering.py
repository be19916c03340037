"""Stage 5 — transitive closure: partition-local union-find, then star rounds.

``connected_components`` closes the match relation in two steps over the
canonical (src < dst) edge set:

1. **Local pass.** The edges are hash-spread over ``P = ceil(n_edges /
   _EDGES_PER_BUCKET)`` buckets. Each bucket, one ``mapInArrow`` task, sorts
   its distinct ids (Arrow's binary order is Spark's string order), runs a
   NumPy min-label union-find (hook the larger root under the smaller, then
   pointer-jump to roots) and emits the star edges ``(component min,
   node)`` of its own components. Stars preserve every component, and one
   bucket that saw every edge (``P == 1``) has produced the closure itself.
2. **Star loop.** With ``P > 1`` a node can hang off a different local min
   in each bucket, so the large-star/small-star rounds of Kiveris et al.
   ("Connected Components in MapReduce and Beyond", SoCC'14) finish the job
   on the contracted graph — O(log n) rounds, no GraphFrames/MLlib, no
   ``collect_list`` (the per-node neighbor minimum is a groupBy().min() +
   join, so a hot node never materializes its neighbor list in one task).

Every round (the canonical edges, the local pass, each star round) is one
lineage-truncating materialization, and its convergence signature (count +
order-insensitive hash) is observed on that same write. The loop stops at
the first round whose signature equals the previous one: every component is
then a star rooted at its minimum id.

The reference has no equivalent operator — its host DBMS queries stop at
pairs (doc/Usage.md) — but the north_rule's entity clusters require the
closure of the match relation.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

# Edges per local-pass bucket. One bucket is one Python task that holds its
# edges, their sorted distinct ids and int64 labels. Measured on one core
# with 64-hex ids: 1M edges in clusters of ~8 took 2.4 s at 0.57 GB peak
# RSS, 1M edges over 2M distinct ids (a bucket's worst case) 5.1 s at
# 0.89 GB. Larger buckets cost memory; smaller ones cost star rounds.
_EDGES_PER_BUCKET = 1_000_000


def _canon(df: DataFrame, a: str, b: str, dedup: bool = True) -> DataFrame:
    """Undirected edge set in canonical (src < dst) form, no self-loops.

    ``dedup=False`` skips the distinct(): both star phases are insensitive to
    duplicate edges (groupBy().min() and the join fan-out dedup at the end of
    the round), so deduping once per round instead of once per phase removes
    a full shuffle from the loop body at every scale.
    """
    out = df.select(
        F.least(F.col(a), F.col(b)).alias("src"),
        F.greatest(F.col(a), F.col(b)).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return out.distinct() if dedup else out


def _min_labels(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Union-find over edges ``(u, v)`` of nodes ``0..n-1``: the smallest
    node of each node's component.

    ``parent[x] <= x`` always holds, so a fully pointer-jumped forest's
    roots are the component minima. Each pass hooks the larger root of
    every edge whose endpoints still differ under the smaller one, which
    at least halves the roots of every unfinished component.
    """
    parent = np.arange(n)
    while True:
        pu, pv = parent[u], parent[v]
        differ = pu != pv
        if not differ.any():
            return parent
        u, v, pu, pv = u[differ], v[differ], pu[differ], pv[differ]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _local_stars(batches):
    """``mapInArrow`` body: one bucket's edges → its star edges
    ``(component min, node)``, same column types as the input."""
    batches = list(batches)
    n = sum(b.num_rows for b in batches)
    if n == 0:
        return
    ends = pa.concat_arrays(
        [b.column("src") for b in batches] + [b.column("dst") for b in batches]
    ).dictionary_encode()
    order = pc.sort_indices(ends.dictionary).to_numpy()
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    ids = ends.dictionary.take(order)  # node i is the i-th smallest id
    codes = rank[ends.indices.to_numpy()]
    root = _min_labels(codes[:n], codes[n:], len(ids))
    node = np.flatnonzero(root != np.arange(len(ids)))
    yield pa.RecordBatch.from_arrays([ids.take(root[node]), ids.take(node)], names=["src", "dst"])


def _large_star(edges: DataFrame) -> DataFrame:
    d = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = d.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.withColumn("m", F.least("mn", "u")).select("u", "m")
    out = d.join(mins, "u").where(F.col("v") > F.col("u")).select("v", "m")
    # no dedup here: small-star dedups the round's output one shuffle later
    return _canon(out, "v", "m", dedup=False)


def _small_star(edges: DataFrame) -> DataFrame:
    # canonical edges already have src < dst; key by the larger endpoint
    d = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    out1 = d.join(mins, "u").where(F.col("v") != F.col("m")).select("v", "m")
    out2 = mins.select(F.col("u").alias("v"), "m")
    return _canon(out1.unionAll(out2), "v", "m")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """edge list (src, dst) → labels (id, cluster_id) for every edge endpoint.

    cluster_id is the minimum member id — deterministic across runs and
    partitionings. Nodes not present in any edge are absent (callers union
    singletons back; see ``cluster_labels``).

    Rounds: ``cc_round_000`` is the canonical edge set, ``cc_round_001`` the
    local pass's star edges, and with more than one bucket each later round
    is one large-star/small-star round, up to ``max_iterations`` of them,
    until one changes nothing. With one bucket the local pass is the
    closure and no star round runs.

    Lineage truncation per round: an eager ``localCheckpoint`` by default
    (fast, but executor-local blocks — one lost executor kills the
    iteration on a real cluster), or **reliable** parquet round-trips under
    ``checkpoint_dir`` when provided (the production setting: each round's
    edge set is a re-readable table, so executor loss only recomputes the
    current round — same discipline as the warehouse stage checkpoints in
    plans/linkage.py). Either way the round's signature is observed on the
    job that materializes it; no job reads a round back to check it.

    ``stats``, when given, receives ``rounds`` — the star rounds after the
    local pass that changed the edge set, not the final no-change check —
    and ``edges_per_round``: the canonical edge count, the count after the
    local pass, and the count after each of those rounds.
    """
    spark = edges.sparkSession

    def materialize(df: DataFrame, rnd: int) -> tuple[DataFrame, tuple[int, int]]:
        # XOR-fold is order-insensitive and can't overflow under ANSI mode.
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        )
        if checkpoint_dir is None:
            df = df.localCheckpoint(eager=True)
        else:
            path = f"{checkpoint_dir}/cc_round_{rnd:03d}"
            df.write.mode("overwrite").parquet(path)
            # the written schema, so no job infers it from the files
            df = spark.read.schema(df.schema).parquet(path)
        sig = obs.get
        return df, (int(sig["n"]), int(sig["h"]))

    e, sig = materialize(_canon(edges, "src", "dst"), 0)
    if stats is not None:
        stats["rounds"] = 0
        stats["edges_per_round"] = [sig[0]]
    if sig[0] == 0:
        return spark.createDataFrame([], "id string, cluster_id string")

    buckets = math.ceil(sig[0] / _EDGES_PER_BUCKET)
    e, sig = materialize(e.repartition(buckets, "src", "dst").mapInArrow(_local_stars, e.schema), 1)
    if stats is not None:
        stats["edges_per_round"].append(sig[0])

    if buckets > 1:  # one bucket saw every edge: its stars are the fixed point
        for rnd in range(2, max_iterations + 2):
            e, new_sig = materialize(_small_star(_large_star(e)), rnd)
            if new_sig == sig:
                break  # the fixed-point check: this round changed nothing
            if stats is not None:
                stats["rounds"] = rnd - 1
                stats["edges_per_round"].append(new_sig[0])
            sig = new_sig
        else:
            raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")

    # Star forest: src is the component root (min id).
    members = e.select(F.col("dst").alias("id"), F.col("src").alias("cluster_id"))
    roots = e.select(F.col("src").alias("id"), F.col("src").alias("cluster_id")).distinct()
    return members.unionAll(roots)


def cluster_labels(
    all_ids: DataFrame,
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Labels for every row id: component root for matched rows, self for
    singletons. ``all_ids`` must have column ``id``.

    Precondition: every edge endpoint is an id of ``all_ids``. An endpoint
    outside it gets no row, yet can still be the min id that labels its
    component, so a row's ``cluster_id`` could name no row at all."""
    comp = connected_components(edges, checkpoint_dir=checkpoint_dir, stats=stats)
    return (
        all_ids.select("id")
        .join(comp, "id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "id"))
    )


def dbscan_labels(all_ids: DataFrame, edges: DataFrame, min_pts: int) -> DataFrame:
    """DBSCAN labels over a precomputed eps-neighborhood edge set
    (Ester et al. 1996, the graph phase): given undirected ``edges(src,
    dst)`` — whatever candidate generator + verifier produced them — and
    ``all_ids(id)``, returns ``(id, deg, is_core, cluster)``:

    * ``deg``      — eps-neighbor count (excluding the point itself);
    * ``is_core``  — ``deg + 1 >= min_pts`` — the textbook rule counts the
      point inside its own eps-neighborhood (|N_eps(p)| includes p), so a
      published MinPts configuration ports verbatim;
    * ``cluster``  — cores: min core id of their core-core component (the
      same star-contraction closure as linkage clustering); border points
      (non-core with a core neighbor): the MIN core neighbor's cluster —
      plain DBSCAN leaves border assignment order-dependent, min-label is
      the canonical tie-free choice; noise: -1.

    Scale shape: degree is a map-side-combining count on the slim symmetric
    edge stream; components run over core-core edges only; border
    assignment is one edge-keyed join + min-agg. Nothing here ever touches
    payloads — the operator composes with any blocked edge family.

    Precondition: every edge endpoint is an id of ``all_ids``. An endpoint
    outside it gets no row but still counts towards its neighbors' ``deg``,
    so it can make them core.
    """
    # .distinct() makes deg robust to duplicate edges or an input that is
    # already symmetrized — double-counted degrees would silently flip
    # is_core. The extra shuffle is on the slim (v, nb) pair stream.
    sym = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("nb"))
        .unionByName(edges.select(F.col("dst").alias("v"), F.col("src").alias("nb")))
        .distinct()
    )
    from levenshtein_spark.session import scoped_persist

    sym = sym.transform(scoped_persist)
    deg = (
        all_ids.select(F.col("id").alias("v"))
        .join(sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg")), "v", "left")
        .select("v", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
    )
    core = deg.where(F.col("deg") + 1 >= min_pts).select("v").transform(scoped_persist)
    core_edges = (
        sym.join(core.withColumnRenamed("v", "__ca"), sym["v"] == F.col("__ca"))
        .join(core.withColumnRenamed("v", "__cb"), sym["nb"] == F.col("__cb"))
        .select(F.col("v").alias("src"), F.col("nb").alias("dst"))
    )
    comp = cluster_labels(core.select(F.col("v").alias("id")), core_edges).select(
        F.col("id").alias("v"), F.col("cluster_id").alias("core_cl")
    )
    border = (
        sym.join(
            comp.select(F.col("v").alias("nb"), F.col("core_cl").alias("nb_cl")), "nb"
        )
        .groupBy("v")
        .agg(F.min("nb_cl").alias("border_cl"))
    )
    return (
        deg.join(comp, "v", "left")
        .join(border, "v", "left")
        .select(
            F.col("v").alias("id"),
            "deg",
            F.col("core_cl").isNotNull().alias("is_core"),
            F.coalesce("core_cl", "border_cl", F.lit(-1)).cast("long").alias("cluster"),
        )
    )

# ---------------------------------------------------------------------------
# Alternative match-graph clusterings (the ER literature's standard menu)
#
# Connected components — the closure the linkage pipeline ships — is the
# highest-recall clustering of a match graph and the one the reference's
# north rule names, but it over-merges through single spurious bridge edges.
# The duplicate-detection clustering surveys (Hassanzadeh, Chiang, Lee,
# Miller, VLDB'09) evaluate a standard menu of alternatives on exactly this
# graph; the three below are the distributable ones, each re-derived as
# shuffle-bounded DataFrame rounds with deterministic tie-breaking so two
# engines (and two runs) produce identical labels.
# ---------------------------------------------------------------------------


def _sym_neighbors(edges: DataFrame) -> DataFrame:
    """Distinct symmetric neighbor stream (v, nb), self-loops dropped."""
    e = _canon(edges, "src", "dst")
    return e.select(F.col("src").alias("v"), F.col("dst").alias("nb")).unionByName(
        e.select(F.col("dst").alias("v"), F.col("src").alias("nb"))
    )


def star_labels(all_ids: DataFrame, edges: DataFrame) -> DataFrame:
    """One-round parallel star clustering (Aslam/Pelekhov/Rus, JGAA 2004,
    deterministic variant): ``(id, deg, is_center, cluster_id)``.

    A node is a *center* iff no neighbor dominates it, where u dominates v
    iff ``deg(u) > deg(v)`` or (``deg(u) = deg(v)`` and ``u < v``) — the
    total order makes the greedy degree-ordered scan's "highest remaining
    degree" choice local, so one groupBy round replaces the sequential
    sweep. Non-centers attach to their dominant-most center neighbor
    (max degree, tie → min id); a non-center with no center neighbor —
    possible under the parallel rule on degree-alternating paths — falls
    back to a singleton cluster of itself. Isolated nodes are centers.

    Works for any orderable id type (the linkage pipeline's sha-hex string
    ids as well as numeric keys) — label columns preserve the input type.

    Scale shape: one degree count on the slim symmetric edge stream, one
    neighbor-degree join + anti-dominance aggregation, one attach argmax as
    two aggregations (max degree, then min id at that degree) — no window,
    no neighbor-list materialization. No iteration, nothing wider than the
    edge stream.

    Precondition: every edge endpoint is an id of ``all_ids``. An endpoint
    outside it gets no row but still counts towards its neighbors' ``deg``.

    ``sym`` and ``deg`` are lineage-truncated (lazy ``localCheckpoint``),
    not merely persisted: the operator composes them into nearly every
    downstream frame, and because each logical-plan reference embeds a full
    COPY of the subtree, composing over the raw upstream scoring plan makes
    Catalyst re-analyze a tree that grows multiplicatively — at sf0.01 that
    was seconds of pure driver planning per action (and an OOM when four
    such trees were unioned). Truncation makes them flat leaves; the cached
    data is identical.
    """
    from levenshtein_spark.session import scoped_persist

    sym = _sym_neighbors(edges).localCheckpoint(eager=False)
    deg = (
        all_ids.select("id")
        .join(sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg")),
              F.col("id") == F.col("v"), "left")
        .select("id", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    # (v, v_deg, nb, nb_deg) — each edge endpoint with both degrees
    nbd = (
        sym.join(deg.select(F.col("id").alias("v"), F.col("deg").alias("v_deg")), "v")
        .join(deg.select(F.col("id").alias("nb"), F.col("deg").alias("nb_deg")), "nb")
    )
    dominated = (
        nbd.where(
            (F.col("nb_deg") > F.col("v_deg"))
            | ((F.col("nb_deg") == F.col("v_deg")) & (F.col("nb") < F.col("v")))
        )
        .select(F.col("v").alias("id"))
        .distinct()
    )
    centers = deg.join(dominated, "id", "left_anti").select("id").transform(scoped_persist)
    # attach: per non-center, the (max deg, min id) center neighbor —
    # argmax as two aggregations so the id type stays arbitrary (no
    # negation trick) and no per-node neighbor list ever materializes
    cand = nbd.join(centers.withColumnRenamed("id", "nb"), "nb").transform(scoped_persist)
    best = cand.groupBy("v").agg(F.max("nb_deg").alias("bd"))
    att = (
        cand.join(best, "v")
        .where(F.col("nb_deg") == F.col("bd"))
        .groupBy("v")
        .agg(F.min("nb").alias("ctr"))
        .select(F.col("v").alias("id"), "ctr")
    )
    is_center = centers.withColumn("is_center", F.lit(True))
    return (
        deg.join(is_center, "id", "left")
        .join(att, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce("is_center", F.lit(False)).alias("is_center"),
            F.when(F.col("is_center"), F.col("id"))
            .otherwise(F.coalesce("ctr", F.col("id")))
            .alias("cluster_id"),
        )
    )


def merge_center_labels(
    all_ids: DataFrame,
    edges: DataFrame,
    star: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """MERGE-CENTER (Hassanzadeh & Miller, VLDBJ 2009) re-expressed over the
    parallel star assignment: ``(id, cluster_id)``.

    Star centers are merged when the sequential scan would have linked their
    clusters through a shared record — deterministically: two centers merge
    iff they are adjacent OR some node is adjacent to both. The merged
    label is the min center id of the merged group (closure over the
    center-merge graph via the same star-contraction components as the
    linkage closure — the center graph is a contraction of the match graph,
    so this closure runs on a far smaller input). Non-centers inherit their
    star center's merged label; star-fallback singletons stay singletons.

    Sits strictly between star (no merging, highest precision) and
    connected components (merge through ANY path, highest recall) — the
    VLDBJ evaluation's middle ground.

    Precondition: every edge endpoint is an id of ``all_ids``. An endpoint
    outside it gets no row, yet two centers that share it as a neighbor
    still merge.

    ``sym`` and ``star`` are lineage-truncated (lazy ``localCheckpoint``)
    for the same reason as in :func:`star_labels`: both are composed into
    several downstream joins, and each logical reference copies the whole
    upstream subtree into the plan.
    """
    sym = _sym_neighbors(edges).localCheckpoint(eager=False)
    if star is None:
        star = star_labels(all_ids, edges)
    star = star.localCheckpoint(eager=False)
    centers = star.where("is_center").select("id")
    # center pairs sharing a common neighbor (covers direct adjacency too:
    # for adjacent centers c1-c2, c2 is a node adjacent to both by symmetry
    # only if c1-c2 share a third node; so union direct adjacency explicitly)
    ce = sym.join(centers.withColumnRenamed("id", "nb"), "nb")  # (v, nb=center)
    shared = (
        ce.select("v", F.col("nb").alias("c1"))
        .join(ce.select("v", F.col("nb").alias("c2")), "v")
        .where(F.col("c1") < F.col("c2"))
        .select(F.col("c1").alias("src"), F.col("c2").alias("dst"))
    )
    adjacent = (
        sym.join(centers.withColumnRenamed("id", "v"), "v")
        .join(centers.withColumnRenamed("id", "nb"), "nb")
        .where(F.col("v") < F.col("nb"))
        .select(F.col("v").alias("src"), F.col("nb").alias("dst"))
    )
    merge_graph = shared.unionByName(adjacent)
    if stats is not None:
        # bench/diagnostic mode: materialize the contraction census the
        # scale argument rests on (centers, merge-graph edges, closure
        # rounds over the center graph)
        merge_graph = merge_graph.localCheckpoint(eager=False)
        stats["n_centers"] = centers.count()
        stats["n_merge_edges"] = merge_graph.count()
        stats["closure"] = {}
    merged = cluster_labels(
        centers, merge_graph,
        stats=None if stats is None else stats["closure"],
    ).select(
        F.col("id").alias("ctr"), F.col("cluster_id").alias("merged_cl")
    )
    return (
        star.join(merged, star["cluster_id"] == F.col("ctr"), "left")
        .select(
            "id",
            F.coalesce("merged_cl", "cluster_id").alias("cluster_id"),
        )
    )


def _pivot_key(id_col) -> "F.Column":
    """Deterministic pseudo-random total order shared with the DuckDB twin:
    the struct (md5 of the id rendered as a string, the id itself) under
    lexicographic struct comparison — the digest randomizes the scan order,
    the id component makes it total even under (astronomically unlikely)
    digest collisions, and it works for any orderable id type. DuckDB's
    row-value comparison (kk, id) < (kk2, id2) is the identical order."""
    return F.struct(
        F.md5(F.col(id_col).cast("string")).alias("h"), F.col(id_col).alias("i")
    )


def pivot_labels(
    all_ids: DataFrame, edges: DataFrame, max_iterations: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """KwikCluster / correlation-clustering pivot labels: ``(id,
    cluster_id)``.

    Serial KwikCluster (Ailon/Charikar/Newman, JACM 2008) scans nodes in
    random order; an unassigned node becomes a pivot and absorbs its
    unassigned neighbors. Its pivot set is exactly the greedy (lexically
    first) maximal independent set in scan order, and each non-pivot's
    cluster is its minimum-order adjacent pivot — so the parallel
    formulation (Chierichetti/Dalvi/Kumar, KDD'14; Blelloch/Fineman/Shun
    on greedy-MIS rounds) splits cleanly in two:

    1. *MIS rounds*: every active node whose key precedes all active
       neighbors' keys becomes a pivot; pivots AND their neighbors
       deactivate. O(log n) rounds w.h.p., exact same pivot set as the
       serial scan.
    2. *One assignment join*: each non-pivot attaches to the minimum-key
       pivot among its neighbors (maximality guarantees one exists);
       pivots label themselves.

    The scan order is the deterministic :func:`_pivot_key`, so labels are
    reproducible across runs, partitionings, and engines.

    Unlike the closure, a pivot cluster is a star of radius 1 around its
    pivot — every member is a verified neighbor of the pivot — so one
    spurious bridge edge merges two records, never two whole clusters:
    the constant-factor-approximate correlation clustering the ER
    literature reaches for when closure over-merge is the failure mode.

    Scale shape per round: one groupBy-min over the active symmetric edge
    stream (pivot test), one semi/anti join pair to shrink the active set;
    the final attachment is a single join + struct-min over the original
    edge stream. Lineage is truncated per round like the closure loop.
    """
    from levenshtein_spark.session import scoped_persist

    sym = _sym_neighbors(edges).transform(scoped_persist)
    active = all_ids.select("id").distinct().withColumn("k", _pivot_key("id"))
    pivot_parts: list[DataFrame] = []
    if stats is not None:
        stats["rounds"] = 0
        stats["active_per_round"] = []
    for _ in range(max_iterations):
        active = active.localCheckpoint(eager=False)
        if stats is None:
            if active.limit(1).count() == 0:
                break
        else:
            # full count per round (one extra reduce) — bench/diagnostic mode
            n_active = active.count()
            if n_active == 0:
                break
            stats["rounds"] += 1
            stats["active_per_round"].append(int(n_active))
        # active-active neighbor stream with the neighbor's key
        aa = (
            sym.join(active.select(F.col("id").alias("v")), "v")
            .join(active.select(F.col("id").alias("nb"), F.col("k").alias("nbk")), "nb")
        )
        min_nb = aa.groupBy("v").agg(F.min("nbk").alias("mnk"))
        pivots = (
            active.join(min_nb, active["id"] == F.col("v"), "left")
            .where(F.col("mnk").isNull() | (F.col("k") < F.col("mnk")))
            .select("id")
            .localCheckpoint(eager=False)
        )
        pivot_parts.append(pivots)
        # deactivate pivots and every neighbor of a pivot
        covered = (
            sym.join(pivots.withColumnRenamed("id", "nb"), "nb")
            .select(F.col("v").alias("id"))
            .unionByName(pivots)
        )
        active = active.join(covered, "id", "left_anti")
    else:
        raise RuntimeError(f"pivot_labels did not converge in {max_iterations} rounds")
    if not pivot_parts:
        return all_ids.select("id", F.col("id").alias("cluster_id")).limit(0)
    pset = pivot_parts[0]
    for p in pivot_parts[1:]:
        pset = pset.unionByName(p)
    pset = pset.transform(scoped_persist)
    att = (
        sym.join(
            pset.select(F.col("id").alias("nb")).withColumn("nbk", _pivot_key("nb")), "nb"
        )
        .join(pset.withColumnRenamed("id", "v"), "v", "left_anti")
        .groupBy("v")
        .agg(F.min(F.struct(F.col("nbk"), F.col("nb").alias("pid"))).alias("best"))
        .select(F.col("v").alias("id"), F.col("best.pid").alias("cluster_id"))
        # anchor on the id universe: the attachment is derived from the raw
        # symmetric edge stream, so an edge endpoint outside all_ids that
        # neighbors a pivot would otherwise be emitted (unlike star_labels,
        # which anchors every output row on all_ids)
        .join(all_ids.select("id"), "id", "leftsemi")
    )
    return (
        pset.select("id", F.col("id").alias("cluster_id"))
        .unionByName(att)
        .select("id", "cluster_id")
    )
