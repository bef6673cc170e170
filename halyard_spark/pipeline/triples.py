"""Stage 4 — triple emission: mentions + linked entities -> (subj, pred, obj, ctx).

Mirrors Halyard's RDFMapper statement emission
(tools/.../HalyardBulkLoad.java:194-210) with the context column playing
the role of the named graph (HalyardTableUtils.java:259,282-287): every
file-derived triple is written into the per-repo graph
``<urn:graph:{repo}>``; canonicalization triples go to the default graph
(ctx = NULL), like the reference's optional context.

The frozen predicate vocabulary is FIXTURES.md A3's; the namespace-prefix
metadata triple mirrors HalyardBulkLoad.java:453-458.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from halyard_spark import nt
from halyard_spark.session import local_frame

P = {
    "imports": "<urn:p:imports>",
    "definesClass": "<urn:p:definesClass>",
    "definesFunction": "<urn:p:definesFunction>",
    "references": "<urn:p:references>",
    "inRepo": "<urn:p:inRepo>",
    "atPath": "<urn:p:atPath>",
    "atCommit": "<urn:p:atCommit>",
    "lang": "<urn:p:lang>",
    "sha256": "<urn:p:sha256>",
    "sameAs": "<urn:p:sameAs>",
    "canonical": "<urn:p:canonical>",
    "namespacePrefix": "<urn:p:namespacePrefix>",
}

TRIPLE_COLS = ["subj", "pred", "obj", "ctx"]


def file_iri(repo, path) -> F.Column:
    return nt.nt_iri(F.concat(F.lit("urn:file:"), repo, F.lit("/"), path))


def _ctx(repo) -> F.Column:
    return nt.nt_iri(F.concat(F.lit("urn:graph:"), repo))


def _t(df: DataFrame, subj, pred: str, obj, ctx) -> DataFrame:
    return df.select(
        subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj"), ctx.alias("ctx")
    )


def emit_triples(
    src_meta: DataFrame,
    mentions: DataFrame,
    linked: DataFrame,
    canonical: DataFrame,
    spark: SparkSession,
) -> DataFrame:
    """Produce the full quad set.

    src_meta: (repo, path, commit, lang, content_sha256) — one row per file.
    mentions: extract.extract_mentions output.
    linked:   link.link_mentions output (canonical_id may be null = unlinked).
    canonical: cc.canonical_map output (entity, canonical).
    """
    r, p = F.col("repo"), F.col("path")
    fi, cx = file_iri(r, p), _ctx(r)

    file_facts = src_meta.select(
        fi.alias("subj"),
        cx.alias("ctx"),
        r.alias("repo"),
        p.alias("path"),
        F.col("commit"),
        F.col("lang"),
        F.col("content_sha256"),
    )
    parts = [
        _t(file_facts, F.col("subj"), P["inRepo"], nt.nt_iri(F.concat(F.lit("urn:repo:"), F.col("repo"))), F.col("ctx")),
        _t(file_facts, F.col("subj"), P["atPath"], nt.nt_lit(F.col("path")), F.col("ctx")),
        _t(file_facts, F.col("subj"), P["atCommit"], nt.nt_lit(F.col("commit")), F.col("ctx")),
        _t(file_facts, F.col("subj"), P["lang"], nt.nt_lit(F.col("lang")), F.col("ctx")),
        _t(file_facts, F.col("subj"), P["sha256"], nt.nt_lit(F.col("content_sha256")), F.col("ctx")),
    ]

    # definition triples: file --definesClass/definesFunction--> entity IRI
    # dedup on the narrow natural key BEFORE IRI construction: repeated
    # defs of the same name in one file collapse here, so no global
    # dropDuplicates over the full wide quad set is ever needed
    defs = mentions.filter(F.col("kind").isin("class", "function")).dropDuplicates(
        ["repo", "path", "kind", "name"]
    )
    ent = nt.nt_iri(F.format_string("urn:entity:%s:%s", F.col("kind"), F.col("name")))
    parts.append(
        defs.select(
            file_iri(r, p).alias("subj"),
            F.when(F.col("kind") == "class", F.lit(P["definesClass"]))
            .otherwise(F.lit(P["definesFunction"]))
            .alias("pred"),
            ent.alias("obj"),
            _ctx(r).alias("ctx"),
        )
    )

    # linked reference triples: file --imports/references--> canonical entity
    resolved = linked.filter(F.col("canonical_id").isNotNull()).dropDuplicates(
        ["repo", "path", "kind", "canonical_id"]
    )
    parts.append(
        resolved.select(
            file_iri(r, p).alias("subj"),
            F.when(F.col("kind") == "import", F.lit(P["imports"]))
            .otherwise(F.lit(P["references"]))
            .alias("pred"),
            F.col("canonical_id").alias("obj"),
            _ctx(r).alias("ctx"),
        )
    )

    # canonicalization triples in the DEFAULT graph (ctx null)
    parts.append(
        canonical.filter(F.col("entity") != F.col("canonical")).select(
            F.col("entity").alias("subj"),
            F.lit(P["canonical"]).alias("pred"),
            F.col("canonical").alias("obj"),
            F.lit(None).cast("string").alias("ctx"),
        )
    )

    # namespace metadata triple (HalyardBulkLoad.java:453-458 analog)
    ns = local_frame(
        spark,
        [(nt.iri(nt.NS), P["namespacePrefix"], nt.lit("hs"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    parts.append(ns)

    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    # Set semantics (Halyard's KV overwrite dedup) hold WITHOUT a global
    # dropDuplicates: each part is unique by construction — file_facts
    # project one row per src file, defs/links are key-deduped above,
    # canonical is one row per entity — and parts never share a predicate,
    # so the union is disjoint.  Skipping the global dedup removes the
    # single widest shuffle in the pipeline (every quad, full strings).
    return out
