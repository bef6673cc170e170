"""SPARQL value-expression semantics on Spark columns.

Error model (strategy/.../HalyardValueExprEvaluation.java:104-111):
a SPARQL "type error" makes FILTER treat the row as false and BIND leave
the variable unbound.  Spark's ANSI mode throws instead — so every
potentially-failing expression is wrapped in a ``try_*`` form that yields
NULL, and NULL then behaves exactly like the reference's error value
under 3-valued logic (And/Or recoverability, HalyardValueExprEvaluation
.java:688-742, matches Spark's native 3VL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from halyard_spark import nt


_NUMERIC_LEXICAL = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"


def try_numeric(col: str | Column) -> Column:
    """Lexical term -> double, NULL on non-numeric (error->unbound).

    A regex-guarded cast rather than try_cast: TryCast cannot be code-
    generated inside sort expressions (Spark INTERNAL_ERROR), and the
    guarded cast never trips ANSI because only validated lexicals reach
    the cast branch."""
    return _numeric_label(nt.nt_str(col))


def _numeric_label(label: Column) -> Column:
    return F.when(label.rlike(_NUMERIC_LEXICAL), label.cast("double"))


def ebv(col: str | Column) -> Column:
    """Effective boolean value (HalyardValueExprEvaluation.java:104-111
    -> QueryEvaluationUtil): booleans as-is; numeric datatypes: value !=
    0, ILL-FORMED numeric lexical -> false; string-ish literals:
    non-empty; IRIs / bnodes -> type error (NULL -> FILTER false).
    The boolean rule applies only to xsd:boolean-TYPED literals (valid
    lexical -> value, ill-formed like "TRUE" -> false); a SIMPLE literal
    "false" is a non-empty string, hence true (§17.2.2).
    Deviation kept from round 1: lang-tagged literals use the string
    rule, and a PLAIN literal whose lexical parses as a number keeps the
    numeric rule."""
    c = nt.nt_str(col)
    num = c.try_cast("double")
    lit_ebv = (
        F.when(nt.nt_datatype(col) == nt.XSD + "boolean", c.isin("true", "1"))
        .when(is_numeric_term(col), F.coalesce(num != 0.0, F.lit(False)))
        .when(num.isNotNull(), num != 0.0)
        .otherwise(F.length(c) > 0)
    )
    return F.when(nt.nt_is_literal(col), lit_ebv)  # non-literal: error


def filter_cond(cond: Column) -> Column:
    """FILTER: error (NULL) => false (HalyardTupleExprEvaluation.java:346-360)."""
    return F.coalesce(cond, F.lit(False))


def bind_safe(expr: Column) -> Column:
    """BIND: evaluation error => unbound — the NULL already is unbound
    (HalyardTupleExprEvaluation.java:579-585); provided for intent."""
    return expr


def as_term(col: Column, dtype: str) -> Column:
    """Solution column of Spark type ``dtype`` -> N-Triples term column.

    Pattern variables hold term strings and pass through; computed
    values (BIND, projections, aggregates) keep their native Spark type
    and render to their canonical typed-literal form.  Every place a
    native value meets a term uses this one rule: joins compare term to
    term (strict label equality, the Value.equals the reference's
    binding-set joins use, so "01"^^xsd:integer does NOT match a
    computed 1), templates instantiate it, and result formats print it.

    The engine's numeric tower is double, so an integral value renders
    as xsd:integer (SPARQL arithmetic preserves integer for integer
    inputs, and BIND(?a + 1) must term-match a stored "2"^^xsd:integer);
    any other number renders as xsd:double."""
    if dtype == "string":
        return col
    if dtype == "boolean":
        return F.when(
            col.isNotNull(),
            F.concat(F.lit('"'), col.cast("string"),
                     F.lit(f'"^^<{nt.XSD}boolean>')),
        )
    if dtype in ("double", "float") or dtype.startswith("decimal"):
        i = col.try_cast("long")
        return F.when(
            col.isNotNull(),
            F.when(
                i.isNotNull() & (i.cast("double") == col.cast("double")),
                F.concat(F.lit('"'), i.cast("string"),
                         F.lit(f'"^^<{nt.XSD}integer>')),
            ).otherwise(
                F.concat(F.lit('"'), col.cast("string"),
                         F.lit(f'"^^<{nt.XSD}double>'))
            ),
        )
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return F.when(
            col.isNotNull(),
            F.concat(F.lit('"'), col.cast("string"),
                     F.lit(f'"^^<{nt.XSD}integer>')),
        )
    return col.cast("string")


_DATETIME_TYPES = (nt.XSD + "dateTime", nt.XSD + "date")


def sparql_compare(a: str | Column, b: str | Column) -> Column:
    """SPARQL value comparison key: numeric promotion when both terms are
    numeric; dateTime-typed pairs compare the INSTANT (timezone offsets
    normalized, per op:dateTime-less-than — a lexical compare would order
    "...T14:45-05:00" before "...T15:00Z" although it is 4h45 later); a
    numeric term against a literal with no numeric value is a TYPE ERROR
    (NULL); else string comparison on the lexical form
    (HalyardValueExprEvaluation.java:815-819 -> QueryEvaluationUtil).
    Deviation kept from round 1: a PLAIN literal whose lexical parses as
    a number takes the numeric rule, and non-numeric incompatible pairs
    fall back to lexical order instead of erroring."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    na, nb = try_numeric(a), try_numeric(b)
    both_num = na.isNotNull() & nb.isNotNull()
    # instant comparison for dateTime-typed pairs (no-tz lexicals take
    # the implicit session timezone, the XPath implicit-timezone model)
    ta = F.when(nt.nt_datatype(ca).isin(*_DATETIME_TYPES),
                nt.nt_str(ca)).try_cast("timestamp")
    tb = F.when(nt.nt_datatype(cb).isin(*_DATETIME_TYPES),
                nt.nt_str(cb)).try_cast("timestamp")
    both_dt = ta.isNotNull() & tb.isNotNull()
    # the numeric-vs-non-numeric type error applies to LITERAL pairs;
    # against an IRI/bnode the lexical fallback keeps RDFterm-equal's
    # different-kind answer (= false, != true) via plain inequality
    num_mismatch = (
        (is_numeric_term(ca) | is_numeric_term(cb))
        & ~both_num
        & nt.nt_is_literal(ca)
        & nt.nt_is_literal(cb)
    )
    key = (
        F.when(both_num, F.when(na < nb, -1).when(na > nb, 1).otherwise(0))
        .when(both_dt, F.when(ta < tb, -1).when(ta > tb, 1).otherwise(0))
        .when(num_mismatch, F.lit(None).cast("int"))
        .otherwise(
            F.when(nt.nt_str(a) < nt.nt_str(b), -1).when(nt.nt_str(a) > nt.nt_str(b), 1).otherwise(0)
        )
    )
    # comparing an UNBOUND operand is a type error (NULL -> FILTER
    # false), not "equal": without this guard every when() condition is
    # NULL and the otherwise(0) arm declares the terms equal
    return F.when(ca.isNotNull() & cb.isNotNull(), key)


_CMP_OPS = {"=", "!=", "<", ">", "<=", ">="}


def _cmp_to_bool(op: str, key: Column) -> Column:
    z = F.lit(0)
    return {"=": key == z, "!=": key != z, "<": key < z, ">": key > z,
            "<=": key <= z, ">=": key >= z}[op]


def compare_any(col: str | Column, op: str, values: list[str | Column]) -> Column:
    """Quantified compare ANY: true when `col op v` holds for at least one
    v (RDF4J CompareAny, HalyardValueExprEvaluation.java:935-958).  SPARQL
    value-comparison semantics per term (numeric promotion else lexical);
    empty value set => false."""
    if op not in _CMP_OPS:
        raise ValueError(f"compare_any: unknown operator {op!r}")
    if not values:
        return F.lit(False)
    conds = [_cmp_to_bool(op, sparql_compare(col, v)) for v in values]
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def compare_all(col: str | Column, op: str, values: list[str | Column]) -> Column:
    """Quantified compare ALL: true when `col op v` holds for every v
    (RDF4J CompareAll, HalyardValueExprEvaluation.java:960-982); empty
    value set => true (vacuous truth)."""
    if op not in _CMP_OPS:
        raise ValueError(f"compare_all: unknown operator {op!r}")
    if not values:
        return F.lit(True)
    conds = [_cmp_to_bool(op, sparql_compare(col, v)) for v in values]
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def langmatches(lang: Column, rng: str | Column) -> Column:
    """SPARQL langMatches(lang, range): '*' matches any non-empty tag;
    otherwise case-insensitive exact match or prefix followed by '-'
    (HalyardValueExprEvaluation.java:561-581)."""
    r = F.lit(rng) if isinstance(rng, str) else rng
    tag, rl = F.lower(lang), F.lower(r)
    return F.when(rl == "*", tag != "").otherwise(
        (tag == rl) | tag.startswith(F.concat(rl, F.lit("-")))
    )


def iri_resolve(value: Column, base: str | None = None) -> Column:
    """SPARQL IRI(str): string -> IRI term, resolving relative references
    against the base URI (HalyardValueExprEvaluation.java:465-495).
    Absolute = has a scheme (letter followed by [A-Za-z0-9+.-]* then ':');
    relative strings are resolved RFC 3986-simple: absolute-path refs
    replace the base path, others append to the base's directory."""
    s = nt.nt_str(value)
    is_abs = s.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
    if base is None:
        resolved = F.when(is_abs, s)  # no base: relative -> NULL (error)
    else:
        if "://" in base:
            scheme, rest = base.split("://", 1)
            authority, _, path = rest.partition("/")
            b_root = f"{scheme}://{authority}"
            # directory of the base path; a path-less base resolves
            # relative refs against the authority root (the old rsplit
            # ate into '://' and turned the ref into the host)
            b_dir = b_root + ("/" + path.rsplit("/", 1)[0] + "/" if "/" in path else "/")
        else:
            b_root = base
            b_dir = base.rsplit("/", 1)[0] + "/" if "/" in base else base
        resolved = (
            F.when(is_abs, s)
            .when(s.startswith("#"), F.concat(F.lit(base), s))  # same-document ref
            .when(s.startswith("/"), F.concat(F.lit(b_root), s))
            .otherwise(F.concat(F.lit(b_dir), s))
        )
    valid = ~resolved.rlike(r'[<>"{}|^`\\\s]') & (F.length(resolved) > 0)
    return F.when(valid, nt.nt_iri(resolved))


_NUMERIC_DATATYPES = [
    nt.XSD + t
    for t in (
        "integer", "decimal", "float", "double", "nonPositiveInteger",
        "negativeInteger", "long", "int", "short", "byte",
        "nonNegativeInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte", "positiveInteger",
    )
]


def is_numeric_term(col: str | Column) -> Column:
    """SPARQL isNumeric(): literal whose DATATYPE IRI is an XSD numeric
    type (HalyardValueExprEvaluation.java:445-454 via
    XMLDatatypeUtil.isNumericDatatype) — a datatype test, not a lexical
    probe: '"3"' (xsd:string) is NOT numeric even though it parses."""
    return F.coalesce(nt.nt_datatype(col).isin(_NUMERIC_DATATYPES), F.lit(False))


def bnode_seeded(*cols: Column, label: str = "b") -> Column:
    """BNODE(...) deterministic skolemization: a fresh-but-stable blank
    node derived from the hashed binding values
    (HalyardValueExprEvaluation.java:234-246 seeds the generated node from
    the bindings so repeated evaluation is stable)."""
    # explicit null marker: concat_ws SKIPS NULLs, so the distinct
    # binding tuples (NULL,'a') and ('a',NULL) would otherwise collide
    # onto one blank node
    parts = [F.coalesce(c.cast("string"), F.lit("\x00unbound")) for c in cols]
    seed = F.sha1(F.concat_ws("", F.lit(label), *parts).cast("binary"))
    return F.concat(F.lit("_:"), F.lit(label), seed)


def order_key(col: str | Column, ascending: bool = True) -> list[Column]:
    """SPARQL ORDER BY key for mixed terms: type rank (bnode < IRI <
    literal, per ValueComparator), then numeric value when numeric, then
    lexical form.  Direction is applied HERE (a SortOrder column cannot be
    re-wrapped with .desc() — nested SortOrder breaks codegen); NULL
    numeric keys (non-numeric literals) always sort after numerics."""
    c = F.col(col) if isinstance(col, str) else col
    # SPARQL 15.1: unbound sorts before ALL RDF terms, then bnodes,
    # IRIs, literals
    rank = (
        F.when(c.isNull(), -1)
        .when(nt.nt_is_bnode(c), 0)
        .when(nt.nt_is_iri(c), 1)
        .otherwise(2)
    )
    label = nt.nt_str(c)  # built once: each copy is dozens of expression nodes
    num = _numeric_label(label)
    # dateTime-typed literals order by INSTANT (op:dateTime-less-than),
    # so "...T14:45-05:00" sorts after "...T15:00Z"; other terms carry a
    # NULL here and fall through to the lexical tiebreaker
    ts = F.when(
        nt.nt_datatype(c).isin(*_DATETIME_TYPES), label
    ).try_cast("timestamp")
    if ascending:
        return [rank.asc(), F.asc_nulls_last(num), F.asc_nulls_last(ts), label.asc()]
    return [rank.desc(), F.desc_nulls_last(num), F.desc_nulls_last(ts), label.desc()]
