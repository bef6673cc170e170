"""SPARQL algebra nodes -> DataFrame combinators.

Line-mapped to the reference implementations in
strategy/.../HalyardTupleExprEvaluation.java (HTEE below).  Halyard's one
physical join strategy is an async index-nested-loop bind join
(HTEE:735-762); Spark instead picks broadcast / shuffled-hash /
sort-merge per Catalyst + AQE, which is the point of the rebuild.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from halyard_spark.query import exprs as E
from halyard_spark.session import local_frame


def _shared_vars(left: DataFrame, right: DataFrame) -> list[str]:
    return [c for c in left.columns if c in set(right.columns)]


def _mixed_kinds(left: DataFrame, right: DataFrame, shared) -> bool:
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    return any(ldt[c] != rdt[c] for c in shared)


def bgp_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Join (BGP '.'): inner join on shared variables (HTEE:735-762).

    No shared variables -> cross product, per SPARQL join semantics.
    Shared variables where one side is a computed native-typed column
    compare via their term form (see exprs.as_term); the all-string fast
    path keeps the plain column-name equi-join.
    """
    shared = _shared_vars(left, right)
    if not shared:
        return left.crossJoin(right)
    if not _mixed_kinds(left, right, shared):
        return left.join(right, on=shared, how="inner")
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    r = right
    for c in shared:
        r = r.withColumnRenamed(c, f"__r_{c}")
    cond = reduce(
        lambda a, b: a & b,
        [
            (left[c] == r[f"__r_{c}"]) if ldt[c] == rdt[c]
            else E.as_term(left[c], ldt[c]) == E.as_term(r[f"__r_{c}"], rdt[c])
            for c in shared
        ],
    )
    # matched rows bind the same term on both sides; keep left's
    # representation (native stays native, term stays term)
    return left.join(r, on=cond, how="inner").drop(
        *[f"__r_{c}" for c in shared]
    )


def optional_join(
    left: DataFrame,
    right: DataFrame,
    condition: Column | None = None,
    wildcard_cols: set | None = None,
) -> DataFrame:
    """LeftJoin (OPTIONAL), condition evaluated in the right scope
    (HTEE:770-866).

    wildcard_cols: shared columns where a NULL on the left means UNBOUND
    (e.g. a VALUES UNDEF cell) — SPARQL compatibility says an unbound
    variable matches ANY right binding, so those columns join with the
    null-wildcard condition and the output takes whichever side is bound.
    Ordinary shared columns keep the null-safe equality fast path."""
    shared = _shared_vars(left, right)
    wc = set(wildcard_cols or ()) & set(shared)
    if shared:
        ldt, rdt = dict(left.dtypes), dict(right.dtypes)
        terms = []
        for c in shared:
            if ldt[c] == rdt[c]:
                # same-kind columns keep DIRECT df[c] references: Spark's
                # self-join disambiguation special-cases them, and the
                # term view is the identity here anyway
                lc, rc = left[c], right[c]
            else:
                lc, rc = E.as_term(left[c], ldt[c]), E.as_term(right[c], rdt[c])
            if c in wc:
                terms.append(left[c].isNull() | right[c].isNull() | (lc == rc))
            else:
                terms.append(lc.eqNullSafe(rc))
        cond = reduce(lambda a, b: a & b, terms)
        if condition is not None:
            cond = cond & condition
        joined = left.join(right, on=cond, how="left_outer")
        if not wc:
            # collapse the duplicated shared columns (keep left's)
            for c in shared:
                joined = joined.drop(right[c])
            return joined
        left_cols = set(left.columns)
        sel = [
            (
                F.coalesce(E.as_term(left[c], ldt[c]),
                           E.as_term(right[c], rdt[c]))
                if c in wc and ldt[c] != rdt[c]
                else (F.coalesce(left[c], right[c]) if c in wc else left[c])
            ).alias(c)
            for c in left.columns
        ] + [right[c].alias(c) for c in right.columns if c not in left_cols]
        return joined.select(*sel)
    if condition is not None:
        return left.join(right, on=condition, how="left_outer")
    return left.join(right, how="left_outer")


def optional_join_parts(
    left: DataFrame, right: DataFrame, wildcard_cols: set | None = None
):
    """LeftJoin(Ω1, Ω2, F) split for a filter evaluated in the MERGED
    scope (SPARQL §18.2.2.5 lifts `OPTIONAL { P FILTER(F) }`'s filter
    into the LeftJoin condition, so F sees the OUTER group's bindings —
    the dawg-optional-filter shape).

    Returns (merged, finish): `merged` is the compatibility INNER join
    of the two sides with shared wildcard columns coalesced (the caller
    filters it with F); `finish(matched)` restores the left rows with no
    surviving extension (the Diff branch of LeftJoin) via an
    all-columns null-safe anti-join — a left row's IDENTITY is its full
    value tuple, so bag multiplicity is preserved without synthetic row
    ids (k duplicate left rows with m surviving extensions yield k*m
    merged rows; with none, all k come back unextended).  Left originals
    of coalesced wildcard columns ride along as __lj_<c> so the Diff
    compares the PRE-merge values."""
    shared = _shared_vars(left, right)
    wc = set(wildcard_cols or ()) & set(shared)
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    r = right
    for c in shared:
        r = r.withColumnRenamed(c, f"__r_{c}")
    if shared:
        terms = []
        for c in shared:
            if ldt[c] == rdt[c]:
                lc, rc = left[c], r[f"__r_{c}"]
            else:
                lc = E.as_term(left[c], ldt[c])
                rc = E.as_term(r[f"__r_{c}"], rdt[c])
            if c in wc:
                terms.append(left[c].isNull() | r[f"__r_{c}"].isNull() | (lc == rc))
            else:
                terms.append(lc.eqNullSafe(rc))
        joined = left.join(r, on=reduce(lambda a, b: a & b, terms), how="inner")
    else:
        joined = left.crossJoin(r)
    sel = []
    for c in left.columns:
        if c in wc:
            v = (
                F.coalesce(E.as_term(left[c], ldt[c]),
                           E.as_term(r[f"__r_{c}"], rdt[c]))
                if ldt[c] != rdt[c]
                else F.coalesce(left[c], r[f"__r_{c}"])
            )
            sel.append(v.alias(c))
        else:
            sel.append(left[c].alias(c))
    sel += [r[c].alias(c) for c in right.columns if c not in shared]
    sel += [left[c].alias(f"__lj_{c}") for c in wc]
    merged = joined.select(*sel)

    def finish(matched: DataFrame) -> DataFrame:
        out_cols = [c for c in matched.columns if not c.startswith("__lj_")]
        mdt = dict(matched.dtypes)
        if left.columns:
            keys = matched.select(
                *[
                    (F.col(f"__lj_{c}") if c in wc else F.col(c)).alias(f"__k_{c}")
                    for c in left.columns
                ]
            ).distinct()
            cond = reduce(
                lambda a, b: a & b,
                [left[c].eqNullSafe(keys[f"__k_{c}"]) for c in left.columns],
            )
            unmatched = left.join(keys, on=cond, how="left_anti")
        else:
            # zero-column left (the unit solution): μ0 survives iff no
            # extension did
            keys = matched.select(F.lit(1).alias("__k")).limit(1)
            unmatched = left.join(keys, on=F.lit(True), how="left_anti")
        pad = []
        for c in out_cols:
            if c in set(left.columns):
                v = (
                    E.as_term(unmatched[c], ldt[c])
                    if c in wc and ldt[c] != rdt[c]
                    else F.col(c)
                )
            else:
                v = F.lit(None).cast(mdt[c])
            pad.append(v.alias(c))
        return matched.select(*out_cols).unionByName(unmatched.select(*pad))

    return merged, finish


def minus(
    left: DataFrame, right: DataFrame, wildcard_cols: set | None = None
) -> DataFrame:
    """Difference (MINUS): drop left rows compatible with a right row
    sharing >=1 variable; rows with disjoint domains are KEPT
    (HTEE:944-994 — the SPARQL-algebra subtlety).

    wildcard_cols: shared columns where a left NULL means UNBOUND.  With
    any present, the anti-join uses full SPARQL compatibility — per
    shared var: unbound-on-either-side OR equal — plus the >=1-var
    overlap requirement evaluated PER ROW (an all-unbound row has a
    disjoint domain and is kept)."""
    shared = _shared_vars(left, right)
    if not shared:
        return left  # no shared vars -> nothing is removed
    wc = set(wildcard_cols or ()) & set(shared)
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    r = right.select(*shared).distinct()
    if not wc and not _mixed_kinds(left, right, shared):
        return left.join(r, on=shared, how="left_anti")
    for c in shared:
        r = r.withColumnRenamed(c, f"__minus_{c}")
    if not wc:
        eq = reduce(
            lambda a, b: a & b,
            [
                (left[c] == r[f"__minus_{c}"]) if ldt[c] == rdt[c]
                else E.as_term(left[c], ldt[c])
                == E.as_term(r[f"__minus_{c}"], rdt[c])
                for c in shared
            ],
        )
        return left.join(r, on=eq, how="left_anti")
    compat = reduce(
        lambda a, b: a & b,
        [
            left[c].isNull() | r[f"__minus_{c}"].isNull()
            | ((left[c] == r[f"__minus_{c}"]) if ldt[c] == rdt[c]
               else E.as_term(left[c], ldt[c])
               == E.as_term(r[f"__minus_{c}"], rdt[c]))
            for c in shared
        ],
    )
    overlap = reduce(
        lambda a, b: a | b,
        [left[c].isNotNull() & r[f"__minus_{c}"].isNotNull() for c in shared],
    )
    return left.join(r, on=compat & overlap, how="left_anti")


def intersection(left: DataFrame, right: DataFrame) -> DataFrame:
    """Intersection: left rows whose full binding set appears in right
    (HTEE:900-936; spill set -> Spark native left-semi).  Null-safe per
    column: a row containing an unbound value present in BOTH inputs is
    in the intersection (plain equality would drop it)."""
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    cond = reduce(
        lambda a, b: a & b,
        [
            left[c].eqNullSafe(right[c]) if ldt[c] == rdt[c]
            else E.as_term(left[c], ldt[c]).eqNullSafe(
                E.as_term(right[c], rdt[c]))
            for c in left.columns
        ],
    )
    return left.join(right, on=cond, how="left_semi")


def union_bag(left: DataFrame, right: DataFrame) -> DataFrame:
    """Union: bag semantics, no dedup (HTEE:874-892)."""
    return left.unionByName(right, allowMissingColumns=True)


def values_table(spark, rows: list[tuple], schema: str) -> DataFrame:
    """BindingSetAssignment (VALUES): inline table (HTEE:1106-1145);
    merging with incoming bindings is values_join."""
    return local_frame(spark, rows, schema)


def values_join(left: DataFrame, vals: DataFrame) -> DataFrame:
    """Merge a VALUES table into a solution set with SPARQL compatibility
    semantics (HTEE:1106-1145 -> BindingSetAssignment): two solutions are
    compatible when every SHARED variable bound in BOTH agrees — an UNDEF
    cell (NULL on the VALUES side) or an unbound left column constrains
    nothing, and the merged row takes whichever side is bound.  A plain
    null-unsafe equi-join would silently drop UNDEF rows instead."""
    shared = [c for c in vals.columns if c in set(left.columns)]
    if not shared:
        return left.crossJoin(vals)
    ldt, vdt = dict(left.dtypes), dict(vals.dtypes)
    renamed = vals
    for c in shared:
        renamed = renamed.withColumnRenamed(c, f"__values_{c}")
    cond = reduce(
        lambda a, b: a & b,
        [
            renamed[f"__values_{c}"].isNull()
            | left[c].isNull()
            | ((renamed[f"__values_{c}"] == left[c]) if ldt[c] == vdt[c]
               else E.as_term(renamed[f"__values_{c}"], vdt[c])
               == E.as_term(left[c], ldt[c]))
            for c in shared
        ],
    )
    out = left.join(renamed, on=cond, how="inner")
    for c in shared:
        if ldt[c] != vdt[c]:
            out = out.withColumn(
                c,
                F.coalesce(E.as_term(left[c], ldt[c]),
                           E.as_term(renamed[f"__values_{c}"], vdt[c])),
            )
        else:
            out = out.withColumn(
                c, F.coalesce(left[c], renamed[f"__values_{c}"])
            )
    return out.drop(*[f"__values_{c}" for c in shared])


def distinct(df: DataFrame) -> DataFrame:
    """DISTINCT: global dedup (HTEE:526-551 BigHashSet spill set ->
    Spark's spilling dropDuplicates)."""
    return df.dropDuplicates()


def reduced(df: DataFrame) -> DataFrame:
    """REDUCED permits any amount of dedup (HTEE:503-518 removes only
    adjacent dups); full dedup is a conforming implementation."""
    return df.dropDuplicates()


def order_limit(df: DataFrame, *order: Column, limit: int | None = None) -> DataFrame:
    """Order (+ fused LIMIT -> top-K).  Halyard fuses a downstream LIMIT
    into its spill sorter (Sorter.java:63-82, getLimit HTEE:1150-1172);
    Spark's TakeOrderedAndProject is the same optimization for free."""
    out = df.orderBy(*order)
    if limit is not None:
        out = out.limit(limit)
    return out


def slice_rows(df: DataFrame, offset: int = 0, limit: int | None = None) -> DataFrame:
    """Slice (LIMIT/OFFSET) (HTEE:601-622)."""
    out = df.offset(offset) if offset else df
    if limit is not None:
        out = out.limit(limit)
    return out


def group_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """Group: SPARQL 1.1 aggregate set — COUNT/SUM/MIN/MAX/AVG/
    GROUP_CONCAT/SAMPLE each with DISTINCT (HTEE:487-495 delegates to the
    RDF4J pull GroupIterator; all are Spark built-ins).  For deterministic
    SAMPLE use F.min; for GROUP_CONCAT use
    array_join(array_sort(collect_set/list(...)), sep)."""
    if not keys:
        return df.agg(*aggs)
    return df.groupBy(*keys).agg(*aggs)


def multi_projection(df: DataFrame, templates: list[dict[str, Column]]) -> DataFrame:
    """MultiProjection (CONSTRUCT / update templates): one input row -> N
    projected rows in ONE pass over ``df`` (HTEE:293-319).  Bag
    semantics, like the reference's iteration: a caller that needs a
    set dedups the result itself."""
    cols = list(templates[0].keys())
    structs = [F.struct(*[t[c].alias(c) for c in cols]) for t in templates]
    exploded = df.select(F.explode(F.array(*structs)).alias("_t"))
    return exploded.select(*[F.col(f"_t.{c}").alias(c) for c in cols])


def exists_filter(
    df: DataFrame, sub: DataFrame, negate: bool = False, wildcard_cols: set | None = None
) -> DataFrame:
    """(NOT) EXISTS per row -> (anti-)semi join on shared vars
    (HTEE value-expr Exists :992-996).

    wildcard_cols: shared columns where a NULL on the df side means
    UNBOUND — substituting an unbound variable leaves the pattern's
    variable free, so it matches any sub binding (null-wildcard
    condition) instead of equi-matching nothing."""
    shared = _shared_vars(df, sub)
    how = "left_anti" if negate else "left_semi"
    wc = set(wildcard_cols or ()) & set(shared)
    r = sub.select(*shared).distinct()
    if not wc:
        return df.join(r, on=shared, how=how)
    for c in shared:
        r = r.withColumnRenamed(c, f"__ex_{c}")
    cond = reduce(
        lambda a, b: a & b,
        [
            (df[c].isNull() | (df[c] == r[f"__ex_{c}"])) if c in wc
            else df[c].eqNullSafe(r[f"__ex_{c}"])
            for c in shared
        ],
    )
    return df.join(r, on=cond, how=how)
