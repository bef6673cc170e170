"""Stage 3 — connected-components canonicalization.

Halyard has no CC operator (its closest relative is the iterative
ArbitraryLengthPath evaluation, strategy/.../HalyardTupleExprEvaluation.java:1073-1098);
the north rule requires entity canonicalization via iterative hash-join
label propagation on a DataFrame edge list.

We implement the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
— O(log^2 n) rounds, each round a pair of shuffle joins, no driver-side
graph state.  Node ids are strings; the component id is the
lexicographic minimum member, so the labeling is deterministic and
independent of partitioning / cluster size (required for the N vs 4N
scaling-equivalence criterion).

Each round ends with ``localCheckpoint`` to truncate the lineage — an
unbounded iterative plan otherwise blows up Catalyst analysis time.

Round construction is ONE ``spark.sql`` statement that takes the previous
round as a DataFrame argument, not a chain of DataFrame transformations:
every classic DataFrame method analyzes its growing plan EAGERLY, and
the incremental re-analysis of each round's ~15-op chain measured
450-700 ms per round on the driver — 4-6x the round's actual execution
at sf0.1.  The single SQL statement analyzes once (~60 ms).  Both star ops use a min() window over
partitionBy(src) — one exchange each — instead of the groupBy+self-join
formulation (two shuffled sides + sorts per star op, guide §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One alternation round: small_star(large_star(cur)).
#
# - ``undirected``/``large_min``: large-star's m = min over EVERY
#   neighbor of src plus src itself (larger neighbors never affect the
#   min, so one undirected window serves); each strictly-larger neighbor
#   is connected to that min.  No trailing dedup on the large arm: the
#   round's final DISTINCT bounds growth, and an extra shuffle per round
#   costs more than carrying a few duplicate rows forward.
# - ``oriented``/``small_min``: small-star over large-star's output;
#   the second union arm emits (src, m) per ROW rather than per group —
#   the same value set (m is functionally dependent on src), collapsed
#   identically by the final DISTINCT without a per-group dedup exchange.
_ROUND_SQL = """\
WITH undirected AS (
  SELECT src, dst FROM {v} UNION ALL SELECT dst AS src, src AS dst FROM {v}
), large_min AS (
  SELECT src, dst, least(min(dst) OVER (PARTITION BY src), src) AS m FROM undirected
), large AS (
  SELECT dst AS src, m AS dst FROM large_min WHERE dst > src
), oriented AS (
  SELECT greatest(src, dst) AS src, least(src, dst) AS dst FROM large
), small_min AS (
  SELECT src, dst, least(min(dst) OVER (PARTITION BY src), src) AS m FROM oriented
)
SELECT DISTINCT src, dst FROM (
  SELECT dst AS src, m AS dst FROM small_min
  UNION ALL
  SELECT src, m AS dst FROM small_min
)"""


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """edges(src: string, dst: string) -> (node, component).

    component = lexicographic min of the node's component.  Includes every
    node that appears in any edge; callers union in isolated nodes.
    """
    spark = edges.sparkSession
    # no checkpoint before the loop: round 1 reads the distinct input, and
    # a lazy checkpoint here measured no fewer jobs and no less wall (the
    # pipeline's 909-edge entity graph at local[4])
    cur = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    prev_sig: tuple | None = None
    for _ in range(max_iter):
        # spark.sql registers ``cur`` under a fresh view name and drops it
        # once the statement is analyzed, so concurrent pipeline threads
        # never share a name.  Lazy checkpoint + signature agg = ONE action
        # per round (the agg materializes the checkpoint); an eager
        # checkpoint plus a separate agg would add a scan job to every round
        cur = spark.sql(_ROUND_SQL, v=cur).localCheckpoint(eager=False)
        sig_row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged edge set is a forest of stars (node -> component root)
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def canonical_map(entity_edges: DataFrame, all_entities: DataFrame) -> DataFrame:
    """(entity, canonical) for every entity; singletons map to themselves.

    Deterministic min-ID labeling (SURVEY.md §7.3 risk 3): output is stable
    across cluster sizes because min() is order-independent.
    """
    cc = connected_components(entity_edges)
    return (
        all_entities.select(F.col("entity"))
        .distinct()
        .join(cc, F.col("entity") == F.col("node"), "left")
        .select(
            "entity",
            F.coalesce(F.col("component"), F.col("entity")).alias("canonical"),
        )
    )
