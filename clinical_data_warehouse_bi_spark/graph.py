"""Graph operators for deduplication cluster assembly.

The reference's dedup surface ends at pair detection (DISTINCT
promotion, DWH.sql:111-118; the LSH/SimHash pipelines extend it to
near-dup PAIRS). A training-data pipeline needs one more step: group
the pairs into CLUSTERS and pick one canonical representative per
cluster — connected components over the candidate-pair graph.

Spark-first realization: iterative min-label propagation on
DataFrames. Each vertex starts labeled with its own id; every
iteration each vertex takes the min of its label and its neighbors'
labels; fixpoint = every vertex labeled with its component's minimum
id. Convergence is O(component diameter) iterations — near-dup
clusters are shallow (duplicates of a common ancestor), so 2-4
rounds in practice.

100 TB notes:
- per iteration: ONE shuffle pair (edge join on dst + groupBy src),
  both keyed on vertex id, so AQE reuses/co-partitions the exchange;
  skewed hub vertices are AQE-split.
- ONE action per iteration: the changed-row flag is computed inline
  in the label update and aggregated by the same job that
  materializes the lazy localCheckpoint — no separate convergence
  join/count job (each extra action is a full job-submission barrier
  on a cluster).
- lineage is truncated every iteration (localCheckpoint) — without
  it the plan doubles per round and the driver, not the data,
  becomes the bottleneck (the standard iterative-algorithm idiom).
- graphs with deep chains (not the dedup shape) automatically fall
  back to the alternating large-star/small-star algorithm (Kiveris
  et al., "Connected Components in MapReduce and Beyond"), which
  contracts star edges toward each component's minimum and converges
  in O(log^2 n) rounds regardless of diameter, with the same
  bounded per-round dataflow (two keyed shuffles, no all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: label-propagation rounds before the star fallback takes over; the
#: plateau check usually hands off long before this
MAX_LABEL_PROP_ROUNDS = 25


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    vertex_col: str = "id",
    stats: dict | None = None,
) -> DataFrame:
    """(id, component): each vertex labeled with the smallest vertex
    id reachable from it over the undirected ``edges``.

    ``vertices`` (optional) adds isolated vertices — every id there
    appears in the output even with no incident edge (its own
    singleton component).

    Min-label propagation — optimal for the shallow dedup-cluster
    shape (O(diameter) rounds, one shuffle pair and ONE action per
    round) — falling back to alternating large-star/small-star as
    soon as progress plateaus (changed count not halved over 3
    rounds: the deep-chain signature) or ``MAX_LABEL_PROP_ROUNDS``
    rounds pass without a fixpoint (deep chains converge there in
    O(log^2 n) rounds).

    ``stats`` (optional dict): filled with ``label_prop_rounds`` (how
    many propagation actions ran) and ``fell_back`` (whether the star
    algorithm finished the job) — operational visibility into the
    plateau heuristic, and what the tests assert on.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    # one materialization of the symmetric edge list (round-16):
    # every propagation round joins sym, so an un-materialized sym
    # recomputes the caller's whole pair-generation subtree (for
    # q_dedup_clusters: the full MinHash + LSH banding + candidate
    # join) once PER ROUND. Lazy — the eager labels checkpoint
    # below is the action that pays for it. Edge-scale state, the
    # same footprint _star_components already materializes.
    sym = sym.localCheckpoint(eager=False)
    base = sym.select(F.col("s").alias("id"))
    if vertices is not None:
        base = base.unionByName(vertices.select(F.col(vertex_col).alias("id")))
    base = base.distinct()
    if stats is not None:
        stats.update(label_prop_rounds=0, fell_back=False)

    labels = base.select("id", F.col("id").alias("component"))
    labels = labels.localCheckpoint(eager=True)

    history: list[int] = []
    for _ in range(MAX_LABEL_PROP_ROUNDS):
        neigh = (
            sym.join(labels, sym["d"] == labels["id"])
            .groupBy("s")
            .agg(F.min("component").alias("nbr_min"))
        )
        # Inline changed-flag: min-label only ever decreases, so a row
        # changed iff a neighbor offered a strictly smaller label. The
        # lazy localCheckpoint is materialized by the count_if job
        # below — one action, one full scan, per round.
        flagged = (
            labels.join(neigh, labels["id"] == neigh["s"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nbr_min"), F.col("component")) < F.col("component")).alias(
                    "chg"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = flagged.agg(F.count_if(F.col("chg")).alias("n")).first()["n"]
        labels = flagged.drop("chg")
        if changed == 0:
            if stats is not None:
                stats["label_prop_rounds"] = len(history) + 1
            return labels
        history.append(changed)
        if len(history) >= 4 and history[-1] * 2 > history[-4]:
            # Plateau: the changed-count has not halved over the last
            # 3 rounds — the deep-chain shape where propagation needs
            # O(diameter) rounds. Bail to the diameter-independent
            # algorithm NOW instead of burning the remaining actions
            # up to MAX_LABEL_PROP_ROUNDS (each round is a full job
            # barrier). Shallow dedup graphs converge to 0 in 2-4
            # rounds and never trip this.
            break
    if stats is not None:
        stats.update(label_prop_rounds=len(history), fell_back=True)
    return _star_components(edges, base, src, dst)


def _star_components(
    edges: DataFrame, base: DataFrame, src: str, dst: str
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al.): edges are repeatedly rewired toward each
    neighborhood's minimum until the graph is a forest of stars
    rooted at component minima. Diameter-independent: O(log^2 n)
    rounds on any graph, each round two keyed shuffles over the
    (always shrinking-height) edge set.

    Edges are kept canonical as (hi > lo) pairs; at the fixpoint
    every edge is (vertex, component-min)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    # A star forest is at most binary-log contractions away; the bound
    # below is generous and only guards against a logic bug looping.
    for _ in range(64):
        # large-star: for each u, m = min over Γ(u) ∪ {u}; rewire every
        # strictly larger neighbor v > u to m.
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star: per larger endpoint u with smaller neighbors N,
        # m = min(N); rewire u and every v in N \ {m} to m.
        smins = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(smins, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .unionByName(smins.select(F.col("hi"), F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # One symmetric-difference action both materializes the
        # checkpoint and decides convergence.
        diff = (
            e.withColumn("w", F.lit(-1))
            .unionByName(ss.withColumn("w", F.lit(1)))
            .groupBy("hi", "lo")
            .agg(F.sum("w").alias("w"))
            .filter(F.col("w") != 0)
            .count()
        )
        e = ss
        if diff == 0:
            break
    else:  # pragma: no cover - 64 rounds cover graphs beyond any real corpus
        raise RuntimeError("large-star/small-star did not converge in 64 rounds")

    member = e.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    roots = e.select(F.col("lo").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    labeled = member.unionByName(roots)
    singles = base.join(labeled, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return labeled.unionByName(singles)
