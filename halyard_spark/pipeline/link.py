"""Stage 2 — entity linking: mentions x canonical-ID dictionary.

Halyard resolves terms by SHA-1 hash key lookup against the statement
indexes (common/.../HalyardTableUtils.java:300-373); our linking is a join
of mention surface forms against a canonical-entity dictionary, with the
dictionary's size picking the physical join:

- dictionary small  -> ``F.broadcast`` map-side join (no shuffle at all);
- dictionary large  -> shuffle hash join, with AQE's skew-join splitting
  spreading hot surface keys (the mega-repo's) over several reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halyard_spark import nt

BROADCAST_MAX_ROWS = 2_000_000  # ~100 MB of dictionary rows; above this, shuffle


def build_dictionary(mentions: DataFrame) -> DataFrame:
    """Derive the canonical-ID dictionary from definition mentions.

    dictionary(surface, kind, qualifier, canonical_id, prior) — one row per
    distinct defined (kind, name).  Deterministic: canonical_id is a pure
    function of (kind, surface).
    """
    defs = mentions.filter(F.col("kind").isin("module", "class", "function"))
    return (
        defs.groupBy("kind", "name")
        .agg(F.min("qualifier").alias("qualifier"), F.count(F.lit(1)).alias("n_defs"))
        .select(
            F.col("name").alias("surface"),
            F.col("kind"),
            F.col("qualifier"),
            nt.nt_iri(F.format_string("urn:entity:%s:%s", F.col("kind"), F.col("name"))).alias("canonical_id"),
            (F.lit(1.0) / F.sqrt(F.col("n_defs"))).alias("prior"),
        )
    )


def link_mentions(
    mentions: DataFrame,
    dictionary: DataFrame,
    dict_rows: int | None = None,
) -> DataFrame:
    """Resolve reference mentions (import/xref) to canonical entities.

    Returns linked(repo, path, kind, name, canonical_id, score).
    ``dict_rows``: known dictionary cardinality (e.g. the preceding
    stage's lineage row count) — supplying it removes the driver-blocking
    count job from the broadcast-or-shuffle probe.
    """
    refs = mentions.filter(F.col("kind").isin("import", "xref"))
    # both import and xref targets are module names in this corpus; a
    # future per-kind dispatch would branch here
    ref_kind = F.lit("module")
    refs = refs.withColumn("target_kind", ref_kind)

    # rename dictionary columns: it may derive from the same mentions DF
    # (self-join) and 'kind'/'qualifier' would be ambiguous otherwise
    d = dictionary.select(
        F.col("surface").alias("d_surface"),
        F.col("kind").alias("d_kind"),
        F.col("canonical_id"),
        F.col("prior"),
    )
    # cheap cardinality probe on the dictionary only (small side),
    # skipped entirely when the caller already knows the size.  A large
    # dictionary takes a plain shuffle hash join: AQE's skew-join
    # splitting handles hot surface keys without replicating the
    # dictionary.
    n = dict_rows if dict_rows is not None else dictionary.count()
    if n <= BROADCAST_MAX_ROWS:
        d = F.broadcast(d)
    joined = refs.join(
        d,
        (F.col("name") == F.col("d_surface")) & (F.col("target_kind") == F.col("d_kind")),
        "left",
    )

    return joined.select(
        F.col("repo"),
        F.col("path"),
        F.col("kind"),
        F.col("name"),
        F.col("canonical_id"),
        F.coalesce(F.col("prior"), F.lit(0.0)).alias("score"),
    )
