"""Distributed connected components over a near-duplicate pair graph.

Dedup operators (dedup.py, similarity.py) emit PAIRS; dropping duplicates
needs CLUSTERS — the transitive closure of the pair relation — so one
keeper survives per component, not per pair. (The reference stops at
pairwise similarity: raise_/PRD.md's dedup surface; clustering is one of
this engine's training-data additions, SURVEY.md §2.14.)

Algorithm: the alternating **large-star / small-star** contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC '14) — the standard shared-nothing CC algorithm (also what
GraphFrames uses). Each half-round is one groupBy + one equi-join on the
node id (two hash shuffles); the edge set contracts toward a forest of
stars centered on each component's minimum id in O(log n) rounds. No
driver-side graph state: the only per-round driver work is the
convergence check (a count + an except), and lineage is truncated with
``localCheckpoint`` so plans stay flat across iterations.

Scale notes:
- Edge counts SHRINK monotonically toward one edge per non-root node, so
  later rounds are cheaper than earlier ones; AQE re-coalesces the
  shrinking shuffles.
- Both half-rounds shuffle on the same key (node id), so consecutive
  stages reuse the hash partitioning.
- Worst-case input for the df-capped pair generators is a clique of
  near-identical docs — that's |clique|² pairs BEFORE clustering; cluster
  on the banded/capped pair output, never on raw all-pairs.

The DuckDB oracle (``components_sql``) computes the same labels with a
recursive label-propagation CTE — fine at test scale, which is exactly
why the Spark side doesn't use that formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.conf_scope import scoped_checkpoint

# rounds the last connected_components call ran before reaching the
# star-forest fixpoint — read by scripts/scale_rehearsal.py to verify the
# O(log n) contract holds as data grows (process-local diagnostics only)
LAST_ROUNDS: int = -1


def _half_round(edges: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large-star or small-star contraction.

    Input/output edges are oriented (u, v) with v < u except for the raw
    first input, which may be arbitrary. Output is deduplicated when
    ``dedup`` — the large-star half passes ``dedup=False``: duplicate
    edges do not change the small-star half's min aggregates or its
    output SET, and the round-final distinct dedups anyway, so an
    intermediate distinct would be one whole exchange of the edge frame
    per round for nothing.
    """
    if large:
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        out = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
    else:
        oriented = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u").alias("u"), F.col("m").alias("v")))
        )
    out = out.where(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Label every node of the undirected pair graph with the minimum node
    id of its connected component.

    Returns (node, cluster) for every node that appears in ``edges``
    (isolated docs never enter the pair graph and keep themselves — no row
    needed). ``cluster`` doubles as the keeper id: it IS the min doc id of
    the component.
    """
    e = scoped_checkpoint(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct(),
        # lazy like the per-round checkpoints: the first convergence check
        # materializes the (expensive) pair generation as part of its own
        # job; the aggregate computes every partition, so the checkpoint
        # completes in that same job.
        eager=False,
    )
    # nodes AFTER the checkpoint: the pair generator upstream (minhash,
    # shingling, ...) is the expensive part and must run exactly once.
    nodes = e.select("u").union(e.select("v")).distinct()

    def is_min_star_forest(df: DataFrame) -> bool:
        # Exact fixpoint test in ONE tiny job. The alternating algorithm's
        # fixpoints are exactly the min-rooted star forests, and with every
        # edge oriented v < u a distinct edge set is one iff (a) each leaf
        # u appears in exactly one edge and (b) no node is both a leaf and
        # a center (v < u then forces center = component min). Checked
        # BEFORE each round, so an already-converged input runs zero
        # rounds; replaces the count + exceptAll anti-join pair of jobs
        # that needed a full extra confirm round.
        row = (
            df.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("n"), F.lit(1).alias("l"), F.lit(0).alias("c")),
                        F.struct(F.col("v").alias("n"), F.lit(0).alias("l"), F.lit(1).alias("c")),
                    )
                ).alias("x")
            )
            .select("x.*")
            .groupBy("n")
            .agg(F.sum("l").alias("l"), F.sum("c").alias("c"))
            .agg(
                F.max("l").alias("max_leaf"),
                F.sum(((F.col("l") > 0) & (F.col("c") > 0)).cast("int")).alias("both"),
            )
            .first()
        )
        return row["max_leaf"] is None or (row["max_leaf"] <= 1 and row["both"] == 0)

    global LAST_ROUNDS
    for i in range(max_iter + 1):
        if is_min_star_forest(e):
            LAST_ROUNDS = i  # diagnostics: rounds must stay ~log(n)
            break
        if i == max_iter:
            raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
        e = _half_round(_half_round(e, large=True, dedup=False), large=False)
        # LAZY checkpoint: the next loop iteration's convergence check is
        # the first action on e and materializes the checkpoint as part of
        # its own job, so each round is one driver-blocking job; an eager
        # checkpoint would add a separate materialization job per round
        # for the same lineage truncation.
        e = scoped_checkpoint(e, eager=False)
    labels = e.groupBy("u").agg(F.min("v").alias("cluster"))
    return (
        nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("cluster", F.col("u")).alias("cluster"),
        )
    )


def components_sql(pairs_sql: str, src: str = "id_a", dst: str = "id_b") -> str:
    """DuckDB oracle: recursive min-label propagation over the same pairs.

    O(component² ) label rows before the final MIN — a test-scale oracle,
    not a production plan."""
    return (
        f"WITH RECURSIVE __pairs AS ({pairs_sql}), "
        f"__edges AS (SELECT {src} AS u, {dst} AS v FROM __pairs WHERE {src} <> {dst} "
        f"UNION SELECT {dst} AS u, {src} AS v FROM __pairs WHERE {src} <> {dst}), "
        f"__reach(node, lbl) AS ("
        f"SELECT u, u FROM (SELECT DISTINCT u FROM __edges) __n "
        f"UNION "
        f"SELECT e.v, r.lbl FROM __reach r JOIN __edges e ON e.u = r.node) "
        f"SELECT node, MIN(lbl) AS cluster FROM __reach GROUP BY node"
    )


def cluster_summary(labels: DataFrame) -> DataFrame:
    """(cluster, n_docs) for every multi-doc cluster — the anti-join side
    for "drop all but the keeper" is ``labels.where(node != cluster)``."""
    return (
        labels.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )
