"""Deterministic synthetic source-code corpus.

The pipeline input is an Iceberg-shaped table
``src(repo, path, commit, lang, content)``.  This generator synthesizes it
entirely with Spark expressions (spark.range + column functions) so it is:

- deterministic: content is a pure function of the row id — identical at
  any parallelism (the two-cluster-size scaling run needs byte-identical
  input at local[8] and local[32]);
- distributed: no driver-side loops; scales to any n_files;
- skewed on purpose: ~30% of files live in ONE mega-repo, mirroring the
  oversize-input fan-out problem the reference solves with hash%k
  decimation (tools/.../HalyardBulkLoad.java:227-248,444-450) and we leave
  to AQE's skew-join splitting.

Content embeds a known graph structure the extractor must recover:
- intra-universe imports:  ``from pkg{t%13}.mod{t} import handle``
- class defs:              ``class Class{i}(Base):`` and a SHARED class
  ``class Shared{i%SHARED_MOD}:`` duplicated across files (this is what
  makes entity canonicalization / connected components non-trivial),
- function defs:           ``def func_{i}_{j}(x):``
- cross-repo references:   ``CROSS_REF("org{a}/repo{b}", "mod{t}")``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SHARED_MOD = 200  # distinct shared-class names; component count in CC
N_PKGS = 13
N_ORGS = 6
N_REPOS_PER_ORG = 37
MEGA_REPO = "org0/mega"


def _h(col: Column, salt: int) -> Column:
    """Deterministic per-row hash stream (non-negative)."""
    return F.abs(F.xxhash64(col, F.lit(salt)))


def generate_src(
    spark: SparkSession, n_files: int, parallelism: int | None = None, content_scale: int = 1
) -> DataFrame:
    """Build the src(repo, path, commit, lang, content) table.

    content_scale multiplies the per-file import/def counts — scale 1 is
    the tiny unit-test corpus; bench uses a larger scale so per-file work
    resembles real source files (hundreds of lines)."""
    parallelism = parallelism or spark.sparkContext.defaultParallelism
    df = spark.range(0, n_files, 1, parallelism).withColumnRenamed("id", "i")
    i = F.col("i")

    is_mega = (i % 10) < 3  # 30% of files in the mega repo
    repo = F.when(is_mega, F.lit(MEGA_REPO)).otherwise(
        F.format_string("org%d/repo%d", (i % N_ORGS) + 1, i % N_REPOS_PER_ORG)
    )
    lang = F.when(i % 11 == 7, F.lit("java")).otherwise(F.lit("python"))
    ext = F.when(lang == "java", F.lit("java")).otherwise(F.lit("py"))
    path = F.concat(F.format_string("src/pkg%d/mod%d.", i % N_PKGS, i), ext)

    n_imports = ((_h(i, 1) % 4) + 1) * content_scale
    n_defs = ((_h(i, 2) % 3) + 1) * content_scale
    n_refs = (_h(i, 3) % 3) * content_scale

    # import targets: pure function of (i, j); stays inside the universe
    def imp_target(j: Column) -> Column:
        return (i * 7 + j * 13 + 1) % n_files

    py_imports = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_imports),
            lambda j: F.format_string("from pkg%d.mod%d import handle", imp_target(j) % N_PKGS, imp_target(j)),
        ),
        "\n",
    )
    java_imports = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_imports),
            lambda j: F.format_string("import pkg%d.mod%d;", imp_target(j) % N_PKGS, imp_target(j)),
        ),
        "\n",
    )

    py_defs = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_defs),
            lambda j: F.format_string("def func_%d_%d(x):\n    return x + %d", i, j, j),
        ),
        "\n",
    )

    def ref_repo(j: Column) -> Column:
        t = (i * 3 + j * 17) % n_files
        return F.when((t % 10) < 3, F.lit(MEGA_REPO)).otherwise(
            F.format_string("org%d/repo%d", (t % N_ORGS) + 1, t % N_REPOS_PER_ORG)
        )

    refs = F.when(n_refs == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_refs),
                lambda j: F.format_string('CROSS_REF("%s", "mod%d")', ref_repo(j), (i * 3 + j * 17) % n_files),
            ),
            "\n",
        )
    )

    # Zipf-ish tail: 1 in 50 files gets a large filler body (big-literal shape,
    # FIXTURES.md B4) — exercises wide rows through Arrow batches.
    filler = F.when(
        _h(i, 4) % 50 == 0, F.repeat(F.lit("# filler: the quick brown fox jumps over the lazy dog\n"), 400)
    ).otherwise(F.lit(""))

    py_content = F.concat_ws(
        "\n",
        F.format_string("# module mod%d", i),
        py_imports,
        F.format_string("class Class%d(object):\n    pass", i),
        F.format_string("class Shared%d:\n    pass", i % SHARED_MOD),
        py_defs,
        refs,
        filler,
    )
    java_content = F.concat_ws(
        "\n",
        F.format_string("// module mod%d", i),
        java_imports,
        F.format_string("public class Class%d {", i),
        F.format_string("  void func_%d_1() {}", i),
        F.lit("}"),
        refs,
        filler,
    )
    content = F.when(lang == "java", java_content).otherwise(py_content)
    # commit identifies content (the git invariant): the pipeline's resume
    # fingerprint hashes (repo, path, commit), so a content-only change —
    # e.g. regenerating with a different content_scale — must change the
    # commit, or resume=True would silently serve stale stage outputs.
    commit = F.sha1(content.cast("binary"))

    return df.select(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )
