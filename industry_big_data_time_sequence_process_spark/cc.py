"""Connected components over distributed edge lists: the one home of the
"label every node with its component's MINIMUM node id" contract that
the near-duplicate family (``dedup_cluster_cc``,
``dedup_semantic_cluster_cc``, their ``*_star`` twins and the pipeline's
``near_dedup``) consumes and the DuckDB oracles state as a bidirectional
recursive CTE. Two algorithms answer it:

- ``min_label_cc``: bounded-round min-label propagation. Each round is
  one join + one min-aggregate over the edge list; duplicate clusters
  are near-cliques, so it converges in ~2 rounds. A component of
  diameter > ``_MIN_LABEL_ROUNDS`` raises instead of returning wrong
  labels.
- ``cc_star``: the alternating large-star/small-star algorithm (Kiveris
  et al. 2014, "Connected Components in MapReduce and Beyond"). Each
  round is two grouped min-aggregates + joins over the EDGE list, and
  the edge set provably converges to disjoint stars centered at the
  component minima in O(log² n) rounds REGARDLESS of component
  diameter, so it answers the graphs the min-label cap refuses.

Min-label is the cheaper one on near-clique dup graphs (fewer jobs per
round); each registry key keeps its algorithm. The driver-side loops are
over ROUNDS (distributed work inside); per-round frames are edge-list-
sized (duplicate-population, orders of magnitude smaller than the
corpus) and eagerly localCheckpointed so round r's lineage does not
compound r plans deep.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Round cap of ``min_label_cc`` after its join-free first round: the
#: first round plus 10 capped rounds resolve any component of diameter
#: <= 10; a longer one raises.
_MIN_LABEL_ROUNDS = 10

#: Safety cap on alternating rounds. The theoretical bound is O(log² n)
#: and measured convergence on near-clique dup graphs is 2-3 rounds, on
#: a planted 13-node chain 5 rounds; 60 covers any corpus this engine
#: can hold (and unlike the min-label cap it is NOT a diameter bound —
#: hitting it would mean the algorithm itself regressed).
_STAR_MAX_ROUNDS = 60


def min_label_cc(edges: DataFrame) -> DataFrame:
    """Exact connected components of the undirected ``edges`` frame
    (columns ``a``, ``b``, any orientation; duplicates and self-loops
    are allowed) by min-label propagation. Returns ``(node, lbl)`` for
    every node incident to an edge, ``lbl`` = the component's minimum
    node id.

    One ``explode`` turns each edge into both directions plus a
    self-loop per endpoint (one scan of the edge lineage), so every
    round is a SINGLE join-aggregate, min over Γ(b) ∪ {b}, referencing
    the label frame once. The first labels are that min taken straight
    off the edge list (round 1 without a join); each later round is
    checkpointed and compared with its predecessor, and the loop exits
    at the first round that changes no label. Past the cap it raises
    RuntimeError naming the fixpoint, since the recursive-CTE oracle
    always converges and a silent cut would return wrong labels."""
    e = (edges.select(F.explode(F.array(
            F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
            F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            F.struct(F.col("a").alias("a"), F.col("a").alias("b")),
            F.struct(F.col("b").alias("a"), F.col("b").alias("b")))
         ).alias("e"))
              .select("e.a", "e.b").distinct().localCheckpoint())
    labels = (e.groupBy(F.col("b").alias("node"))
               .agg(F.min("a").alias("lbl")).localCheckpoint())
    for _ in range(_MIN_LABEL_ROUNDS):
        new = (e.join(labels, e.a == labels.node)
                .groupBy(F.col("b").alias("node"))
                .agg(F.min("lbl").alias("lbl"))).localCheckpoint()
        changed = (new.alias("n").join(labels.alias("o"), "node")
                      .filter(F.col("n.lbl") != F.col("o.lbl"))
                      .limit(1).count())
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min_label_cc: min-label propagation did not reach a fixpoint "
        f"within {_MIN_LABEL_ROUNDS + 1} rounds (component diameter > "
        f"{_MIN_LABEL_ROUNDS}); use cc_star for such graphs")


def cc_star(edges: DataFrame) -> DataFrame:
    """Exact connected components of the undirected ``edges`` frame
    (columns ``a``, ``b``; direction/duplication/self-loops are
    normalized away). Returns ``(node, lbl)`` for every node incident
    to an edge, ``lbl`` = the component's minimum node id — the same
    fixpoint the recursive-CTE oracles state.

    Per round: LARGE-STAR links every strictly-larger neighbor of each
    node u to m = min(Γ(u) ∪ {u}) (one bidirectional group-min + join),
    then SMALL-STAR links each node's smaller-or-equal neighborhood and
    itself to its minimum (one group-min + join on the canonical
    small-first orientation). Both operations preserve connectivity;
    alternating them strictly shrinks the potential until the edge set
    is a union of stars centered at component minima.
    """
    nodes = (edges.select(F.col("a").alias("node"))
                  .unionByName(edges.select(F.col("b").alias("node")))
                  .distinct().localCheckpoint())
    e = (edges.select(F.least("a", "b").alias("a"),
                      F.greatest("a", "b").alias("b"))
              .filter(F.col("a") != F.col("b"))
              .distinct().localCheckpoint())
    for _ in range(_STAR_MAX_ROUNDS):
        # large-star over the bidirectional view; output (m, v) is
        # canonical by construction (m <= u < v)
        d = e.unionByName(e.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
        m = (d.groupBy("a").agg(F.min("b").alias("mn"))
              .select("a", F.least("mn", "a").alias("m")))
        ls = (d.join(m, "a")
               .filter(F.col("b") > F.col("a"))
               .select(F.col("m").alias("a"), "b")
               .distinct())
        # small-star on the canonical orientation: group by the big
        # endpoint; its smaller neighbors AND itself relink to their min
        sm = ls.groupBy("b").agg(F.min("a").alias("m"))
        ss = (ls.join(sm, "b")
                .filter(F.col("a") != F.col("m"))
                .select(F.col("m").alias("na"), F.col("a").alias("nb"))
                .unionByName(sm.select(F.col("m").alias("na"),
                                       F.col("b").alias("nb")))
                .distinct()
                .select(F.col("na").alias("a"), F.col("nb").alias("b"))
                .localCheckpoint())
        same = ss.count() == e.count() and ss.subtract(e).isEmpty()
        e = ss
        if same:
            break
    else:
        raise RuntimeError(
            f"cc_star: star rounds did not converge within "
            f"{_STAR_MAX_ROUNDS} rounds — the O(log² n) bound is "
            f"violated, which indicates an algorithmic regression, not "
            f"a data property")
    return (nodes.join(e.select(F.col("b").alias("node"),
                                F.col("a").alias("lbl"))
                        .groupBy("node").agg(F.min("lbl").alias("lbl")),
                       "node", "left")
                 .select("node",
                         F.coalesce("lbl", "node").alias("lbl")))
