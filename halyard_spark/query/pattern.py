"""Statement-pattern binding — the leaf of every SPARQL query.

Halyard picks the index permutation whose prefix covers the bound terms
and builds an HBase range scan (common/.../HalyardTableUtils.java:300-373,
scan builders :496-510, 16-way dispatch).  Here a pattern is a filter
over a quad frame.  Over a written store (``rdfload.load_dataset``, a
``materialize.StoreFrame``) the SPARQL planner scans, per pattern, the
SPO, POS or OSP mirror that ``materialize.pick_index`` names for its
bound positions (``sparql._Planner._mirror``); any other frame (an
in-memory snapshot, an updated endpoint store) is scanned as given.
Spark does the pruning: the equality filters are pushed into the parquet
scan (PushedFilters in explain()), which skips row groups and pages by
their min/max; on the mirror sorted by the bound terms that leaves the
pages holding the matches.

Bound positions become equality filters and are dropped from the
output; unbound positions become variables through :func:`bind_columns`,
the one binder every pattern shape (triple, predicate set, negated
property set, path closure) shares — the binding semantics of
HBaseSail.StatementScanner (sail/.../HBaseSail.java:685-787) minus the
hash-collision re-check, which is unnecessary because we store full
values in columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_POSITIONS = ["subj", "pred", "obj", "ctx"]


def bind_columns(df: DataFrame, bindings: list[tuple[str, Column]]) -> DataFrame:
    """Project (variable name, column) pairs as a solution frame.  A
    REPEATED name becomes an equality constraint plus ONE output column,
    as SPARQL requires of a variable used twice in one pattern
    (``?x <p> ?x``, ``?x !<p> ?x``, ``GRAPH ?g { ?g p+ ?o }``)."""
    first: dict[str, Column] = {}
    out = []
    for name, col in bindings:
        if name in first:
            df = df.where(first[name] == col)
        else:
            first[name] = col
            out.append(col.alias(name))
    return df.select(*out)


def statement_pattern(
    triples: DataFrame,
    s: str | None = None,
    p: str | None = None,
    o: str | None = None,
    c: str | None = None,
    vars: dict[str, str] | None = None,
) -> DataFrame:
    """Evaluate pattern (s?, p?, o?, c?); None = unbound.

    ``vars`` renames unbound positions to SPARQL variable names, e.g.
    ``{"subj": "file", "obj": "entity"}``.
    """
    bound = {"subj": s, "pred": p, "obj": o, "ctx": c}
    df = triples
    for pos, term in bound.items():
        if term is not None:
            df = df.filter(F.col(pos) == term)
    vars = vars or {}
    # ctx is only a variable in a QUAD pattern — project it solely when
    # the caller names it; otherwise a NULL ctx would join NULL<->NULL
    # and (correctly but surprisingly) empty every BGP join.
    return bind_columns(df, [
        (vars.get(pos, pos), F.col(pos))
        for pos in _POSITIONS
        if bound[pos] is None and pos in df.columns
        and (pos != "ctx" or "ctx" in vars)
    ])
