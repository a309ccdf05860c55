"""Connected components over candidate-pair edges — the clustering
stage that turns near-duplicate PAIRS (MinHash/SimHash/cosine output)
into canonical duplicate GROUPS, so a 100 TB dedup pipeline can keep
exactly one representative per cluster.

The reference has no graph operator (its dedup story stops at cell
cleaning); this is part of the engine's LLM-data-pipeline extension
(SURVEY §2.2 L5/L6 downstream stage).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
standard shuffle-bounded CC for Spark:

- ``large-star``: every node points its LARGER neighbors at its
  current minimum neighbor (or itself);
- ``small-star``: every node points its smaller-or-equal neighbors at
  its minimum neighbor;
- iterate until the edges are (member -> min-of-component) stars, in
  O(log^2 n) rounds on real graphs.

Each round is a min-aggregate plus an equi-join on the node id (the
join reuses the aggregate's hash partitioning, so one real shuffle)
followed by a distinct. Everything stays in the EDGE domain — no
per-component array is ever materialized, so a giant skewed component
spreads across the cluster instead of landing in one task's memory
(this is why the implementation deliberately avoids ``collect_set``).
The driver-side loop checks one scalar per round: whether the round's
output is already a set of stars.

Size gate: an edge set of at most ``_DRIVER_MAX_EDGES`` (1M) edges is
collected and labeled by a union-find on the driver instead. Verified
duplicate pairs are usually far below it, and the star rounds cost
tens of Spark jobs however few edges there are. The bound is a
measurement: on a 4-vCPU host with a 2 GiB driver, 1M random edges
over 2M ids took 1.0 s to collect and 5.0 s to label on the driver
(peak RSS of the Python driver 296 MB, 9.8 s for the whole operator),
and 80 s as star rounds. Above the bound only the star rounds keep
the edge set off the driver. Both paths label a node with its
component minimum, so the path never changes a result.

At 100 TB the edge set from LSH candidates is orders of magnitude
smaller than the corpus. Iterative plans double their lineage every
round — left unchecked the optimizer itself OOMs after ~10 rounds —
so every round is cut with ``localCheckpoint`` (executor-storage
materialization; the edge set is the small relation here). Set
``reliable_checkpoint=True`` (plus ``setCheckpointDir``) on clusters
where executor loss mid-computation must be survivable.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

# Edge sets up to this size are labeled on the driver (module docstring).
_DRIVER_MAX_EDGES = 1_000_000
# Star iterations before the distributed path gives up.
_MAX_ROUNDS = 20


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star round over (u, v) edges."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least(F.col("__mv"), F.col("u")).alias("m"))
    )
    joined = sym.join(mins, "u")  # co-partitioned with the aggregate
    if large:
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        out = joined.filter(F.col("v") <= F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(mins.select(F.col("u"), F.col("m").alias("v")))
    return out.filter(F.col("u") != F.col("v")).distinct()


def _is_stars(edges: DataFrame) -> bool:
    """Whether small-star output (edges point larger -> smaller) is a
    set of stars: no node has two out-edges and no node is both a
    source and a target. One aggregate, read with ``isEmpty``."""
    ends = edges.select(
        F.col("u").alias("n"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).union(edges.select(F.col("v").alias("n"), F.lit(0), F.lit(1)))
    bad = (
        ends.groupBy("n")
        .agg(F.sum("o").alias("o"), F.sum("i").alias("i"))
        .filter((F.col("o") > 1) | ((F.col("o") > 0) & (F.col("i") > 0)))
    )
    return bad.isEmpty()


def _label_on_driver(edges: DataFrame) -> DataFrame:
    """Union-find over the collected (u, v) edges: (node, component)
    as one Arrow local relation in one partition, so a join against it
    broadcasts. Each root is the minimum of its set."""
    table = edges.toArrow()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(table.column("u").to_pylist(), table.column("v").to_pylist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    id_type = table.schema.field("u").type
    out = pa.Table.from_arrays(
        [pa.array(nodes, id_type), pa.array([find(n) for n in nodes], id_type)],
        names=["node", "component"],
    )
    dt = edges.schema["u"].dataType
    schema = StructType([StructField("node", dt), StructField("component", dt)])
    return edges.sparkSession.createDataFrame(out, schema).coalesce(1)


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Component id (minimum member id) per node: (node, component).

    Isolated nodes don't appear in ``pairs`` and so don't appear here;
    union them in as (id, id) downstream if every doc needs a label.
    Self-loops and edges with a null endpoint are ignored. At most
    ``_DRIVER_MAX_EDGES`` distinct edges are labeled on the driver and
    returned as a one-partition local relation. Larger edge sets run
    the star rounds, which converge when a small-star output is a set
    of stars (each leaf points at its root, the component minimum).
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # The local checkpoint is lazy: the count below materializes it, so
    # the pair lineage runs once on either path. A reliable checkpoint
    # stays eager, since a lazy one is written by a second job after the
    # first action, which recomputes the distinct's reduce stage. The
    # count runs on the checkpoint's rows as one job: DataFrame.count
    # plans an aggregate, which AQE runs as two.
    edges = (
        edges.checkpoint()
        if reliable_checkpoint
        else edges.localCheckpoint(eager=False)
    )
    if edges._jdf.queryExecution().toRdd().count() <= _DRIVER_MAX_EDGES:
        return _label_on_driver(edges)
    for _ in range(_MAX_ROUNDS):
        edges = _star_round(_star_round(edges, large=True), large=False)
        # Cut lineage every round: iterative plans double otherwise and
        # the optimizer itself becomes the bottleneck (or OOMs).
        edges = edges.checkpoint() if reliable_checkpoint else edges.localCheckpoint()
        if _is_stars(edges):
            break
    else:
        # Unconverged stars would yield multiple labels per true
        # component — silently wrong dedup. Fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} star "
            "iterations; real graphs need O(log^2 n)"
        )
    # Stars are (member -> component-min) edges.
    comp = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Full-corpus duplicate-cluster labels: every document gets a
    ``component`` (its cluster's minimum doc id — singletons label
    themselves) and a ``is_canonical`` flag (the kept representative).

    This is the keep-one-per-cluster stage of a corpus dedup pipeline:
    ``corpus.join(..., 'left')`` keeps isolated docs without shuffling
    the corpus twice, and downstream keeps ``is_canonical`` rows.
    """
    comp = connected_components(pairs, a_col, b_col)
    out = corpus.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    return out.withColumn("is_canonical", F.col("component") == F.col(id_col))


def containment_dedup(
    pairs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    threshold: float = 0.9,
    a_col: str = "a_id",
    b_col: str = "b_id",
    c_ab_col: str = "containment_ab",
    c_ba_col: str = "containment_ba",
) -> DataFrame:
    """Keep-the-superset dedup over asymmetric containment pairs
    (``operators/dedup.containment_pairs_text`` output): every document
    gets a ``component`` label (cluster minimum id, computed over the
    containment edges exactly like ``dedup_clusters``) and a ``kept``
    flag that actually REMOVES excerpt leaks instead of reporting them.

    The keep decision is per-EDGE, not per-cluster: a document is
    dropped iff it is the subset side of at least one containment pair
    — ``c_ab >= threshold`` means A's shingles sit inside B, so A is
    the quote/excerpt and B the superset to keep. Mutual containment
    (both ratios over threshold — near-identical shingle sets) keeps
    the smaller id, the canonical-min convention. Per-cluster
    keep-the-largest would be WRONG here: two originals sharing one
    boilerplate snippet land in one cluster, and only the snippet —
    the contained side — may be dropped, never the second original.
    Subset-ness is also independent of whether the superset itself
    survives: in a chain A ⊂ B ⊂ C, A is (transitively) inside C, so
    dropping both A and B while keeping C is exactly right.

    Thresholding uses the PAIR FRAME'S ratio columns as-is (rounded to
    4 by the generator) so an oracle reproducing the decision from the
    same rounded values agrees bit-for-bit; round-to-4 is monotone, so
    every pair the generator admitted at ``threshold`` still passes.
    The DIRECTION rule, not just admission, is defined on the rounded
    values: a raw ratio in ``[threshold - 5e-5, threshold)`` rounds up
    to the threshold, so a pair that is one-sided on raw ratios can
    classify as mutual here and drop ``greatest(a, b)`` rather than
    the subset side. That band is a deliberate part of the contract —
    callers needing raw-containment direction semantics should carry
    unrounded ratio columns through the pair frame.

    Scale shape: the pair set from the inverted-index generator is
    orders of magnitude smaller than the corpus; the loser set is one
    distinct over it, and both final joins are corpus ⋈ small (AQE
    broadcasts them). The corpus is never shuffled on anything but its
    id.
    """
    ab = F.col(c_ab_col) >= threshold
    ba = F.col(c_ba_col) >= threshold
    # Materialize the admitted pair set ONCE: both consumers below —
    # the loser projection and the CC fixpoint — would otherwise
    # re-execute the (inverted-index join) subtree that produced the
    # pairs. The pair set is the small relation here, the same bet
    # connected_components already makes per round.
    edges = pairs.filter(ab | ba).localCheckpoint()
    losers = edges.select(
        F.when(ab & ba, F.greatest(F.col(a_col), F.col(b_col)))
        .when(ab, F.col(a_col))
        .otherwise(F.col(b_col))
        .alias("__loser")
    ).distinct()
    comp = connected_components(edges, a_col, b_col)
    out = corpus.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    return (
        out.join(losers, out[id_col] == losers["__loser"], "left")
        .withColumn("kept", F.col("__loser").isNull())
        .drop("__loser")
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    iterations: int = 4,
    damping: float = 0.85,
    reliable_checkpoint: bool = False,
    fixed_point_scale: int | None = None,
    conserve_mass: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over (src, dst) edges: (id, rank).

    The crawl-side authority score (the reference crawls gov registries
    but never ranks them; any frontier prioritizer needs this). Plan
    shape per iteration — the canonical Spark form:

    - contributions = edges ⋈ ranks on src (the edge relation carries
      its out-degree from ONE precomputed, checkpointed join, so the
      per-iteration cost is one key-shuffle join + one sum aggregate);
    - new rank = (1-d)/N + d·Σ contributions, LEFT-joined back onto the
      node list so sink-only nodes keep the base mass.

    Ranks are O(nodes) rows; edges are never mutated, so the loop's
    only growing state is lineage — cut with ``localCheckpoint`` per
    iteration exactly like ``connected_components``. Dangling nodes
    (no out-edges) contribute nothing by default — their mass is
    dropped, not redistributed (the common web-graph simplification;
    fine when only the RANKING matters).

    ``conserve_mass=True`` redistributes the dangling mass uniformly
    each iteration — the textbook stochastic-matrix correction — so
    score MAGNITUDES stay meaningful (e.g. PageRank as a mixture
    weight over sources). Cost: one extra 1-row aggregate per
    iteration (Σ rank over the static dangling-node set), broadcast
    back over the O(nodes) update — the corpus-sized relations shuffle
    exactly as before. Float mode then holds Σrank = 1 to a few ulps
    per iteration; fixed-point mode floor-divides at three places
    (contribution split, dangling share, damping), each dropping < 1
    scaled unit per term, so ``0 ≤ scale − Σrank ≤
    iterations·(E + 4·N)`` units — at ``scale=10**12`` a relative
    error ≤ 1e-6 even on a billion-edge graph (pinned in
    tests/test_dedup_sim.py).

    ``fixed_point_scale``: when set (e.g. ``10**12``), all arithmetic
    is INTEGER fixed-point — init ``scale//N``, contributions
    ``rank // out_degree``, damping applied as ``(17·Σ)//20`` for
    d=0.85 — making every rank bit-identical across engines, partition
    orders, and retries (floating sums are order-sensitive; an
    oracle-checked or replay-idempotent pipeline needs the exact
    form). Returns ``rank`` as BIGINT scaled units in that mode.
    Only damping values expressible as a /100 rational are accepted
    there (the division must stay integer).
    """
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    n_nodes = nodes.select(F.col(id_col)).distinct().count()
    if n_nodes == 0:
        # empty graph: the base-mass terms below divide by N — return
        # the schema-stable empty result instead of a driver-side
        # ZeroDivisionError (an empty frontier partition is routine)
        rank_type = "long" if fixed_point_scale is not None else "double"
        return nodes.select(
            F.col(id_col), F.lit(None).cast(rank_type).alias("rank")
        )
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    ewd = e.join(deg, "__s")
    ewd = ewd.checkpoint() if reliable_checkpoint else ewd.localCheckpoint()

    dangling = None
    if conserve_mass:
        # static over the loop: nodes with no out-edge (left-anti on
        # the out-degree keys); O(nodes) rows, checkpointed once
        dangling = nodes.select(F.col(id_col).alias("__n")).join(
            deg.select(F.col("__s").alias("__n")), "__n", "left_anti"
        )
        dangling = (
            dangling.checkpoint()
            if reliable_checkpoint
            else dangling.localCheckpoint()
        )

    if fixed_point_scale is not None:
        d_num = int(round(damping * 100))
        if abs(damping * 100 - d_num) > 1e-9:
            raise ValueError(
                f"fixed-point damping must be a /100 rational, got {damping}"
            )
        base = ((100 - d_num) * (fixed_point_scale // n_nodes)) // 100
        init = F.lit(fixed_point_scale // n_nodes).cast("long")
        ranks = nodes.select(F.col(id_col).alias("__n"), init.alias("__r"))
        for _ in range(iterations):
            contribs = (
                ewd.join(ranks, ewd["__s"] == ranks["__n"])
                .select("__d", F.expr("__r div __deg").alias("__c"))
                .groupBy("__d")
                .agg(F.sum("__c").alias("__sum"))
            )
            updated = (
                nodes.select(F.col(id_col).alias("__n"))
                .join(contribs, F.col("__n") == F.col("__d"), "left")
            )
            inflow_sql = "coalesce(__sum, 0L)"
            if conserve_mass:
                dsum = ranks.join(dangling, "__n", "left_semi").agg(
                    F.coalesce(F.sum("__r"), F.lit(0).cast("long")).alias(
                        "__dangling"
                    )
                )
                updated = updated.crossJoin(F.broadcast(dsum))
                inflow_sql = (
                    f"(coalesce(__sum, 0L) + (__dangling div {n_nodes}))"
                )
            ranks = updated.select(
                "__n",
                (
                    F.lit(base)
                    + F.expr(f"({d_num} * {inflow_sql}) div 100")
                ).cast("long").alias("__r"),
            )
            ranks = (
                ranks.checkpoint()
                if reliable_checkpoint
                else ranks.localCheckpoint()
            )
        return ranks.select(F.col("__n").alias(id_col), F.col("__r").alias("rank"))

    init = F.lit(1.0 / n_nodes)
    ranks = nodes.select(F.col(id_col).alias("__n"), init.alias("__r"))
    for _ in range(iterations):
        contribs = (
            ewd.join(ranks, ewd["__s"] == ranks["__n"])
            .select("__d", (F.col("__r") / F.col("__deg")).alias("__c"))
            .groupBy("__d")
            .agg(F.sum("__c").alias("__sum"))
        )
        updated = nodes.select(F.col(id_col).alias("__n")).join(
            contribs, F.col("__n") == F.col("__d"), "left"
        )
        inflow = F.coalesce(F.col("__sum"), F.lit(0.0))
        if conserve_mass:
            dsum = ranks.join(dangling, "__n", "left_semi").agg(
                F.coalesce(F.sum("__r"), F.lit(0.0)).alias("__dangling")
            )
            updated = updated.crossJoin(F.broadcast(dsum))
            inflow = inflow + F.col("__dangling") / F.lit(float(n_nodes))
        ranks = updated.select(
            "__n",
            (F.lit((1.0 - damping) / n_nodes) + damping * inflow).alias(
                "__r"
            ),
        )
        ranks = (
            ranks.checkpoint() if reliable_checkpoint else ranks.localCheckpoint()
        )
    return ranks.select(F.col("__n").alias(id_col), F.col("__r").alias("rank"))
