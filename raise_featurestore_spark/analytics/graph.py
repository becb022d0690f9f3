"""Graph analytics over derived co-occurrence graphs: weighted PageRank.

Engine addition (connected components live in ``dataprep/components.py``;
this adds the importance-scoring half). The graph is DERIVED — nodes are
parts, edges are co-occurrence within an order — so the whole pipeline is
relational: an equi-self-join bounded by order size builds the edges, and
each PageRank iteration is one join + one grouped aggregate.

    pr₀(v)   = 1/N
    prₖ₊₁(v) = (1−d)/N + d · Σ_{u→v} prₖ(u) · w(u,v)/outdeg(u)

Scale design: the self-join key is the order id (≤ ~7 items per order ⇒
≤ 42 pairs per order — LINEAR in lineitems, never all-pairs over parts);
edges/degrees are materialized once and reused across iterations; each
iteration shuffles by node id only. Iteration count is a driver-side
loop over a bounded k (the reference pattern for Lloyd's in
dataprep/clustering.py) — each iteration's plan embeds no literals, so
the lineage stays compact.

Edges are symmetrized by construction (both (a,b) and (b,a) pair rows
come out of the self-join), so every node has outdegree ≥ 1 — no
dangling-mass term needed.

Cross-engine: per-edge contributions are snapped on a 1e-10 grid and
summed in exact decimals (grid_decimals=10 — PageRank masses are ~1/N,
far above the grid), so iterations are partition-order-free and the
chained-CTE DuckDB oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.conf_scope import (
    scoped_checkpoint,
    scoped_conf,
    shuffle_partitions,
)
from raise_featurestore_spark.functions.stable import (
    dec_sum,
    dec_sum_sql,
    stable_round,
    stable_round_sql,
)

_GRID = 10  # decimal grid for per-edge contributions (masses ~1/N)


def cooccurrence_edges(
    df: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """(src, dst, w): how many baskets contain both items (directed both
    ways by construction). ``collect_set`` dedupes items per basket —
    an item repeated m times within one basket must contribute 1 to each
    partner edge, not m — and the ordered pairs are generated MAP-SIDE
    from each basket's item set (bounded: ≤ ~7 items per order ⇒ ≤ 42
    pairs), so the whole build is two shuffles (basket
    grouping, then the (src, dst) count) instead of the previous
    distinct + self-join + count three-shuffle plan, which also evaluated
    the distinct on both join sides. (Measured at sf0.1: the build itself
    is ~1 s faster; the bigger pagerank win was eliminating a duplicate
    full execution of this plan — see pagerank's checkpoint note.)"""
    sets_ = df.groupBy(F.col(basket_col).alias("__b")).agg(
        F.collect_set(F.col(item_col)).alias("__items")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("__items"),
                lambda x: F.transform(
                    F.filter(F.col("__items"), lambda y: y != x),
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
            )
        )
    )
    return (
        sets_.select(pair.alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    iterations: int = 2,
    damping: float = 0.85,
    round_to: int = 8,
    edges: DataFrame | None = None,
) -> DataFrame:
    """(node, pr) after ``iterations`` of weighted PageRank on the
    co-occurrence graph. Emitted pr is stable-rounded (masses are ~1/N,
    so ``round_to`` defaults fine-grained).

    ``edges``: a pre-built (src, dst, w) co-occurrence table — e.g. the
    materialized output of :func:`cooccurrence_edges` kept as a stored
    derived table and reused across analytics runs (the reference's
    materialized-derived-state pattern,
    raise_/analytics/live_table.py:162-209). The basket build was 4.5 s
    of the 5–6 s sf0.1 wall; reading the stored edges pays one
    repartition instead. When given, ``df``/``basket_col``/``item_col``
    are ignored for edge construction."""
    edges = (
        edges if edges is not None else cooccurrence_edges(df, basket_col, item_col)
    )
    # Eager checkpoint: materializes the edge list ONCE and truncates its
    # lineage, so the k iterations reuse stored blocks instead of
    # re-running the basket build per reference. The node count reads
    # CHECKPOINTED frames; counting before the checkpoint would be a
    # second full execution of the edge plan.
    #
    # Degrees stay a separate node-scale frame (aggregated from the
    # checkpointed edges — map-side partials, no edge-scale exchange) and
    # ride the BROADCAST side of each iteration, keeping the per-edge
    # arithmetic pr·w/wd bit-identical to the oracle. Joining them onto
    # the edge frame would add an edge-scale hash(src) Exchange plus a
    # 4th stored column per edge.
    #
    # repartition(dst) BEFORE the checkpoint: each iteration aggregates
    # contributions BY dst, and with ~2.4M nearly-unique (src, dst) edges
    # at sf0.1 that groupBy would be a full shuffle of the edge-scale
    # frame PER ITERATION. The checkpoint preserves outputPartitioning
    # (LogicalRDD keeps the physical plan's partitioning), the broadcast
    # pr-join preserves the streamed side's layout, so
    # HashPartitioning(dst) already satisfies the aggregate's clustering —
    # zero per-iteration edge-scale Exchange (plan-asserted in
    # test_graph.py). One extra edge-scale shuffle at build time buys k
    # shuffle-free iterations.
    #
    # AQE must be OFF while the checkpoint is CREATED (restored right
    # after): under AQE the executed plan is an AdaptiveSparkPlan whose
    # outputPartitioning reports unknown, so the LogicalRDD forgets the
    # layout and every iteration re-shuffles anyway (measured: the
    # repartition alone changed nothing). AQE has no decision to make in
    # this one known user-specified shuffle. The flip is session-global,
    # so it runs under the process-wide scoped_conf lock (exact restore,
    # no interleaving with other conf windows); a job another thread
    # plans on the same session during this short window gets a
    # non-adaptive but CORRECT plan — documented perf-only residual
    # (conf_scope.py module docstring).
    spark_s = df.sparkSession
    shuffle_p = shuffle_partitions(spark_s)
    with scoped_conf(spark_s, spark__sql__adaptive__enabled="false"):
        edges = scoped_checkpoint(edges.repartition(shuffle_p, "dst"), eager=True)
    # node-scale: one aggregate over the cached edge blocks (~|nodes|
    # rows), checkpointed so the per-iteration broadcast builds and the
    # node count read tiny stored blocks instead of re-scanning edges
    deg = scoped_checkpoint(edges.groupBy("src").agg(F.sum("w").alias("__wd")), eager=True)
    n = deg.count()
    if n == 0:
        return edges.select(F.col("src").alias("node"), F.lit(0.0).alias("pr"))
    base = (1.0 - damping) / n
    # pr as a frame (node, pr); iteration joins on src and re-aggregates.
    # n is already known driver-side, so the join
    # strategy is chosen HERE, not left to stats AQE can't see through a
    # localCheckpoint: a node-count-bounded pr frame broadcasts (killing
    # the per-iteration shuffle of the edge list — 2× at fixture scale);
    # past the broadcast budget it falls back to the shuffled equi-join.
    _BROADCAST_NODES = 2_000_000  # ~2M (node, pr) rows ≈ tens of MB
    pr = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("pr"))
    for _ in range(iterations):
        # the broadcast side carries (node, pr, __wd): the degree join is
        # node-scale, and the per-edge expression stays pr·w/__wd — the
        # exact op sequence the oracle regenerates
        pr_w = pr.join(deg, pr["node"] == deg["src"]).select(
            "node", "pr", "__wd"
        )
        pr_side = F.broadcast(pr_w) if n <= _BROADCAST_NODES else pr_w
        contrib = (
            edges.join(pr_side, edges["src"] == pr_side["node"])
            .select(
                F.col("dst"),
                (F.col("pr") * F.col("w") / F.col("__wd")).alias("__c"),
            )
            .groupBy("dst")
            .agg(dec_sum(F.col("__c"), grid_decimals=_GRID).alias("__m"))
        )
        pr = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.lit(damping) * F.col("__m")).alias("pr"),
        )
    return pr.select(
        "node", stable_round(F.col("pr"), decimals=round_to).alias("pr")
    )


def pagerank_sql(
    table: str,
    basket_col: str,
    item_col: str,
    iterations: int = 2,
    damping: float = 0.85,
    round_to: int = 8,
) -> str:
    """DuckDB twin: the same iterations as chained CTEs (the k-means
    oracle pattern — regenerate, don't simulate)."""
    d = float(damping)
    # the teleport numerator must be the PYTHON-computed double: DuckDB
    # evaluates a bare (1.0 - 0.85) in DECIMAL (-> 0.1499999999999999944)
    # while Spark embeds binary 0.15000000000000002 — a 1-ulp base
    # divergence feeding every pr. A string-literal CAST parses
    # correctly-rounded to the same double everywhere.
    omd = f"CAST('{1.0 - d!r}' AS DOUBLE)"
    ctes = [
        (
            f"__i AS (SELECT DISTINCT {basket_col} AS bb, {item_col} AS it "
            f"FROM {table})"
        ),
        (
            "__e AS (SELECT a.it AS src, b.it AS dst, COUNT(*) AS w "
            "FROM __i a JOIN __i b ON a.bb = b.bb AND a.it <> b.it "
            "GROUP BY 1, 2)"
        ),
        "__deg AS (SELECT src, SUM(w) AS wd FROM __e GROUP BY src)",
        "__n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM __deg)",
        (
            "__pr0 AS (SELECT src AS node, 1.0 / nn AS pr "
            "FROM __deg CROSS JOIN __n)"
        ),
    ]
    for k in range(iterations):
        contrib = dec_sum_sql("(p.pr * e.w / g.wd)", grid_decimals=_GRID)
        ctes.append(
            f"__pr{k + 1} AS (SELECT e.dst AS node, "
            f"{omd} / MIN(n.nn) + {d!r} * {contrib} AS pr "
            f"FROM __e e JOIN __deg g ON e.src = g.src "
            f"JOIN __pr{k} p ON p.node = e.src CROSS JOIN __n n "
            f"GROUP BY e.dst)"
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT node, {stable_round_sql('pr', decimals=round_to)} AS pr "
        f"FROM __pr{iterations}"
    )
