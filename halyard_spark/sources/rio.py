"""Generic JSON -> RDF triple mapping — the rio JSONParser analog
(rio/src/main/java/com/msd/gin/halyard/rio/JSONParser.java:64-116).

Reference semantics: every JSON object becomes a node (blank node with a
hash-derived id), each key a ``:key`` predicate, array elements indexed
predicates, leaves literals.  Spark-native: the traversal is SCHEMA-driven
— the struct schema (from spark.read.json / from_json) is walked once on
the driver, generating pure Column expressions; execution stays in the
JVM with posexplode for arrays.  No per-row Python.

Supported shapes: nested structs, arrays of scalars, scalars, maps, and
ARBITRARY-DEPTH arrays of structs / arrays of arrays — mirroring the
reference's full recursion (JSONParser.java:64-116): each array-of-
structs element becomes a child NODE whose id extends the parent's with
``.path:index`` (the reference's ``.e:0`` naming), linked by an edge
triple plus an ``:index`` marker, with the element's fields recursed
under the same path.  The recursion is a driver-side schema walk; every
emitted branch is pure Column expressions + posexplode (JVM, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from halyard_spark import nt
from halyard_spark.sources import jsonld, rdfxml, trix, turtle


def _leaf_lit(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.StringType):
        return nt.nt_lit(col)
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
        return nt.nt_lit(col.cast("string"), dtype=nt.XSD + "integer")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return nt.nt_lit(col.cast("string"), dtype=nt.XSD + "double")
    if isinstance(dtype, T.BooleanType):
        return nt.nt_lit(col.cast("string"), dtype=nt.XSD + "boolean")
    return nt.nt_lit(col.cast("string"))


def json_to_triples(df: DataFrame, node_col: str, struct_col: str, ns: str = "urn:json:") -> DataFrame:
    """df[node_col] = subject id string; df[struct_col] = parsed struct.

    Returns (subj, pred, obj, ctx=NULL) rows for every leaf.
    """
    schema = df.schema[struct_col].dataType
    assert isinstance(schema, T.StructType), "struct_col must be a struct"
    parts: list[DataFrame] = []
    _null_ctx = F.lit(None).cast("string")

    def walk(frame: DataFrame, node: Column, prefix: str, col: Column, dtype: T.DataType) -> None:
        """node = node-id string Column within `frame`; prefix = predicate
        path from the document root (reference: JSONParser builds the same
        dotted path for nested properties)."""
        subj = nt.nt_iri(node)
        pred = f"<{ns}{prefix}>"
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(frame, node, f"{prefix}.{f.name}" if prefix else f.name, col[f.name], f.dataType)
        elif isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, (T.ArrayType, T.StructType)):
            # array of structs / arrays: each element is a CHILD NODE
            # (reference `.e:0` ids) — edge + index marker, then recurse
            child = frame.select(
                node.alias("__node"), F.posexplode_outer(col).alias("__idx", "__v")
            ).where(F.col("__v").isNotNull())
            child_id = F.concat(
                F.col("__node"), F.lit(f".{prefix}:"), F.col("__idx").cast("string")
            )
            parts.append(
                child.select(
                    nt.nt_iri(F.col("__node")).alias("subj"),
                    F.lit(pred).alias("pred"),
                    nt.nt_iri(child_id).alias("obj"),
                    _null_ctx.alias("ctx"),
                )
            )
            parts.append(
                child.select(
                    nt.nt_iri(child_id).alias("subj"),
                    F.lit(f"<{ns}{prefix}:index>").alias("pred"),
                    nt.nt_lit(F.col("__idx").cast("string"), dtype=nt.XSD + "integer").alias("obj"),
                    _null_ctx.alias("ctx"),
                )
            )
            sub = child.select(child_id.alias("__cnode"), F.col("__v").alias("__cval"))
            walk(sub, F.col("__cnode"), prefix, F.col("__cval"), dtype.elementType)
        elif isinstance(dtype, T.ArrayType):
            exploded = frame.select(subj.alias("subj"), F.posexplode_outer(col).alias("idx", "v"))
            parts.append(
                exploded.select(
                    "subj",
                    F.concat(F.lit(f"<{ns}{prefix}:"), F.col("idx").cast("string"), F.lit(">")).alias("pred"),
                    _leaf_lit(F.col("v"), dtype.elementType).alias("obj"),
                    _null_ctx.alias("ctx"),
                ).where(F.col("obj").isNotNull())
            )
        elif isinstance(dtype, T.MapType):
            if isinstance(dtype.valueType, (T.ArrayType, T.StructType)):
                child = frame.select(
                    node.alias("__node"), F.explode_outer(col).alias("__k", "__v")
                ).where(F.col("__v").isNotNull() & F.col("__k").isNotNull())
                child_id = F.concat(F.col("__node"), F.lit(f".{prefix}:"), F.col("__k"))
                parts.append(
                    child.select(
                        nt.nt_iri(F.col("__node")).alias("subj"),
                        F.concat(F.lit(f"<{ns}{prefix}:"), F.col("__k"), F.lit(">")).alias("pred"),
                        nt.nt_iri(child_id).alias("obj"),
                        _null_ctx.alias("ctx"),
                    )
                )
                sub = child.select(child_id.alias("__cnode"), F.col("__v").alias("__cval"))
                walk(sub, F.col("__cnode"), prefix, F.col("__cval"), dtype.valueType)
            else:
                exploded = frame.select(subj.alias("subj"), F.explode_outer(col).alias("k", "v"))
                parts.append(
                    exploded.select(
                        "subj",
                        F.concat(F.lit(f"<{ns}{prefix}:"), F.col("k"), F.lit(">")).alias("pred"),
                        _leaf_lit(F.col("v"), dtype.valueType).alias("obj"),
                        _null_ctx.alias("ctx"),
                    ).where(F.col("k").isNotNull())
                )
        else:
            parts.append(
                frame.select(
                    subj.alias("subj"),
                    F.lit(pred).alias("pred"),
                    _leaf_lit(col, dtype).alias("obj"),
                    _null_ctx.alias("ctx"),
                ).where(col.isNotNull())
            )

    walk(df, F.col(node_col).cast("string"), "", F.col(struct_col), schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


TRIPLE_SCHEMA = "subj string, pred string, obj string, ctx string"
_COLS = ["subj", "pred", "obj", "ctx"]

# What the parsers raise on malformed input: ValueError (JSON decode
# errors included), SyntaxError (ElementTree's ParseError) and
# RecursionError (input nested deeper than the interpreter's stack).
# Anything else is a parser bug and fails the job instead of being
# counted as a bad file.
PARSE_ERRORS = (ValueError, SyntaxError, RecursionError)

# Whole-document formats: fmt -> parse(text, path) -> (quads, skips)
_WHOLE_FILE_PARSERS = {
    "turtle": turtle.parse_turtle_file,
    "rdfxml": rdfxml.parse_rdfxml_file,
    "trix": trix.parse_trix_file,
    "jsonld": jsonld.parse_jsonld_file,
}


def _read_whole_files(spark, path, parse, metrics=None) -> DataFrame:
    """The ParserPump analog (tools/.../HalyardBulkLoad.java:321-482) for
    whole-document formats: one row per file (wholetext scan), parsed in
    one Arrow-batched mapInPandas by ``parse(text, path) -> (quads,
    statements_skipped)``.  The file is the parallelism unit, as with the
    reference's per-stream Rio parser.  A file whose parse raises one of
    PARSE_ERRORS yields no rows, not even partial ones; with a
    ParseMetrics it counts in ``files_failed``, and statement skips inside
    parsed files count in ``statements_skipped``."""
    from collections.abc import Iterator

    import pandas as pd

    # capture only the accumulators (the ParseMetrics object also holds
    # JVM observation handles, which must not enter the pickled closure)
    acc_stmt = metrics.statements_skipped if metrics is not None else None
    acc_file = metrics.files_failed if metrics is not None else None

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for file_path, text in zip(pdf["path"], pdf["text"]):
                try:
                    quads, skipped = parse(text or "", str(file_path))
                except PARSE_ERRORS:
                    if acc_file is not None:
                        acc_file.add(1)
                    continue  # skip-invalid: one bad file never fails the job
                rows.extend(quads)
                if skipped and acc_stmt is not None:
                    acc_stmt.add(skipped)
            yield pd.DataFrame(rows, columns=_COLS)

    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )
    return files.mapInPandas(gen, schema=TRIPLE_SCHEMA)


def ndjsonld_to_triples(df: DataFrame, line_col: str = "value", metrics=None) -> DataFrame:
    """ND-JSON-LD reader: newline-delimited JSON-LD, each line its own
    document (rio/.../NDJSONLDParser.java:38-75 wraps each line as an
    independent JSON-LD document).

    Full JSON-LD 1.0 expansion (sources/jsonld.py): @context term maps
    (incl. {"@id", "@type": "@id", "@container"} definitions and
    compact-IRI values), @vocab/@base/@language defaults, @list/@set/
    @index/@language containers, nested node objects, @graph (named ->
    ctx column), @reverse.  Runs as Arrow-batched pandas over the line
    column — JSON-LD term resolution is data-dependent, so this is a
    genuine can't-express-in-built-ins boundary (the same place the
    reference spends a ParserPump thread,
    tools/.../HalyardBulkLoad.java:321-482).  Its own loop, not
    _read_whole_files: the unit is a line, and a line that raises one of
    PARSE_ERRORS counts as a statement skip.

    Blank-node scope is per LINE OCCURRENCE, not per line text: the
    reference runs a fresh parser per line, so two identical anonymous
    lines are two distinct entities (code-review fix — a raw-text scope
    merged them).  Duplicate lines get an occurrence index from ONE
    count aggregation, which is partitioning-invariant: the same input
    yields the same skolem labels at any parallelism, unlike a
    partition-id scheme.  The first occurrence keeps scope == line,
    preserving labels for the common no-duplicate case.
    """
    from collections.abc import Iterator

    import pandas as pd

    acc_stmt = metrics.statements_skipped if metrics is not None else None

    lines = df.select(F.trim(F.col(line_col)).alias("line")).where(
        F.col("line").isNotNull() & (F.col("line") != "")
    )
    occs = lines.groupBy("line").agg(F.count(F.lit(1)).alias("n")).select(
        "line",
        F.explode(F.sequence(F.lit(0), (F.col("n") - 1).cast("int"))).alias("occ"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for line, occ in zip(pdf["line"].fillna(""), pdf["occ"]):
                if not line:
                    continue
                scope = line if occ == 0 else f"{line}\x00dup{occ}"
                try:
                    rows.extend(jsonld.jsonld_to_rows(line, scope=scope))
                except PARSE_ERRORS:
                    if acc_stmt is not None:
                        acc_stmt.add(1)
                    continue  # dirty-parse tolerance (HalyardBulkLoad skipinvalid)
            yield pd.DataFrame(rows, columns=_COLS)

    return occs.mapInPandas(gen, schema=TRIPLE_SCHEMA)


# ---------------------------------------------------------------------------
# N-Triples / N-Quads line source — the RDF-file ParserPump analog
# (tools/.../HalyardBulkLoad.java:321-482 runs Rio parsers on worker
# threads; N-Triples is line-delimited, so the Spark-native form is a
# text scan + ONE JVM-side regexp per line — whole-stage codegen, no
# Python, native codec support for .gz inputs).
# ---------------------------------------------------------------------------

# one NT/NQ term: IRI | blank node | literal (with optional @lang / ^^<dt>)
_NT_TERM = r'(?:<[^>]*>|_:[A-Za-z0-9][A-Za-z0-9._\-]*|"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9\-]*|\^\^<[^>]*>)?)'
_NT_LINE = (
    rf"^\s*({_NT_TERM})\s+({_NT_TERM})\s+({_NT_TERM})(?:\s+({_NT_TERM}))?\s*\.\s*$"
)


def ntriples_to_triples(lines: DataFrame, line_col: str = "value", metrics=None) -> DataFrame:
    """Parse a DataFrame of N-Triples / N-Quads lines into (subj, pred,
    obj, ctx) rows.  Dirty-parse tolerant like the reference's
    skip-invalid mode: comment lines, blank lines, and malformed lines
    yield no row instead of failing the job.  Terms are kept in their
    lexical N-Triples form (the store's native representation), so no
    re-serialization cost.

    With a ParseMetrics, malformed (non-blank, non-comment, no-match)
    lines are counted via a JVM-side observed metric on the SAME scan —
    no extra pass and no Python in the plan (sources/metrics.py).
    """
    c = F.col(line_col)
    parsed = lines.select(
        c.alias("__line"),
        F.regexp_extract(c, _NT_LINE, 1).alias("subj"),
        F.regexp_extract(c, _NT_LINE, 2).alias("pred"),
        F.regexp_extract(c, _NT_LINE, 3).alias("obj"),
        F.nullif(F.regexp_extract(c, _NT_LINE, 4), F.lit("")).alias("ctx"),
    )
    if metrics is not None:
        bad = (
            (F.col("subj") == "")
            & (F.trim(F.col("__line")) != "")
            & (~F.trim(F.col("__line")).startswith("#"))
        )
        parsed = metrics.observe_lines_skipped(parsed, bad)
    out = parsed.select("subj", "pred", "obj", "ctx").where(F.col("subj") != "")
    # normalize \uXXXX / \UXXXXXXXX numeric escapes to code points so
    # terms join across serializations (Rio decodes them at parse time);
    # pure Column expressions — the scan stays whole-stage codegen
    return out.select(
        *[nt.nt_decode_uchar(F.col(c2)).alias(c2)
          for c2 in ("subj", "pred", "obj")],
        nt.nt_decode_uchar(F.col("ctx")).alias("ctx"),
    )


def read_ntriples(spark, path: str, metrics=None) -> DataFrame:
    """Read .nt / .nq files (plain or compressed — Spark's text source
    handles codecs) into a quad DataFrame."""
    return ntriples_to_triples(spark.read.text(path), metrics=metrics)


_RDF_EXT_MAP = {
    "nt": "ntriples", "nq": "ntriples",
    "ttl": "turtle", "trig": "turtle",
    # N3 rides the Turtle parser (Turtle-superset subset: formulae
    # excluded — see sources/turtle.py docstring)
    "n3": "turtle",
    "rdf": "rdfxml", "owl": "rdfxml", "xml": "rdfxml",
    "trix": "trix",
    "ndjsonld": "ndjsonld",
    # .jsonld = ONE pretty-printed document per file, not line-delimited
    "jsonld": "jsonld",
}


def _rdf_format_of(path: str, default: str | None = "ntriples") -> str | None:
    """Map a path's (codec-stripped) extension to a parser.  `default`
    applies to UNREGISTERED extensions: explicit single-file paths keep
    the historical ntriples fallback, but directory/glob expansion
    passes default=None so stray non-RDF files (README.md, .json) are
    skipped instead of silently shredded line-by-line — mirroring the
    reference's registered-extension routing
    (tools/.../HalyardBulkLoad.java:251-259)."""
    base = path.lower()
    for codec in (".gz", ".bz2", ".zst", ".lz4", ".deflate", ".snappy"):
        if base.endswith(codec):
            base = base[: -len(codec)]
    ext = base.rsplit(".", 1)[-1] if "." in base else ""
    return _RDF_EXT_MAP.get(ext, default)


def read_rdf(spark, path, fmt: str | None = None, metrics=None) -> DataFrame:
    """Extension-dispatched RDF reader — the bulk-load input-format map
    (tools/.../HalyardBulkLoad.java:251-259 maps every RIO-registered
    extension to its parser).  `fmt` overrides sniffing; compressed
    inputs keep their logical extension before the codec suffix
    (data.ttl.gz -> turtle), handled by Spark's text source codecs.

    A LOCAL glob / directory spanning MIXED formats is expanded and
    grouped so each file goes through its own parser (the reference's
    per-file format filter), then unioned; a list of paths is treated the
    same.  Paths with a filesystem scheme (hdfs://, s3a://, ...) are NOT
    expanded on the driver — they pass straight to Spark, whose source
    expands globs on the target filesystem (one format per such path,
    sniffed from the pattern's extension).

    Files found by DIRECTORY/GLOB expansion whose extension is not a
    registered RIO format are skipped with a warning (and recorded on
    `metrics` when given) — only an EXPLICIT single-file path falls back
    to the N-Triples parser, so a stray README.md in a load directory
    can't be silently shredded line-by-line."""
    if fmt is None:
        import glob as _glob
        import os as _os
        import re as _re
        import warnings

        def _has_scheme(p: str) -> bool:
            return bool(_re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", p))

        paths = path if isinstance(path, list) else [path]
        expanded: list[tuple[str, bool]] = []  # (path, from_expansion)
        for p in paths:
            if _has_scheme(p) and not p.startswith("file://"):
                expanded.append((p, False))  # remote FS: Spark expands the glob
            elif _os.path.isdir(p):
                expanded.extend(
                    (_os.path.join(p, f), True) for f in sorted(_os.listdir(p))
                    if _os.path.isfile(_os.path.join(p, f))
                )
            elif any(c in p for c in "*?[") and not _os.path.exists(p):
                expanded.extend(
                    (f, True) for f in sorted(_glob.glob(p)) if _os.path.isfile(f)
                )
            else:
                expanded.append((p, False))
        groups: dict[str, list[str]] = {}
        for p, from_expansion in expanded:
            name = _os.path.basename(p)
            if from_expansion and (
                name.startswith((".", "_")) or name.endswith(".crc")
            ):
                # Spark/Hadoop sink bookkeeping (_SUCCESS, .*.crc,
                # _committed, dotfiles): expected directory furniture,
                # skipped without noise — the same hiddenFileFilter every
                # Hadoop input format applies
                continue
            f = _rdf_format_of(p, default=None if from_expansion else "ntriples")
            if f is None and from_expansion and name.startswith("part-"):
                # a Spark sink's own data files (export_ntriples writes
                # part-*.txt): these ARE this engine's N-Triples output,
                # so reading the directory back round-trips
                f = "ntriples"
            if f is None:
                warnings.warn(f"read_rdf: skipping non-RDF extension {p!r}", stacklevel=2)
                if metrics is not None:
                    metrics.files_skipped_unknown_ext.append(p)
                continue
            groups.setdefault(f, []).append(p)
        if len(groups) != 1:
            if not groups:
                raise FileNotFoundError(f"read_rdf: no input files match {path!r}")
            parts = [read_rdf(spark, ps, fmt=f, metrics=metrics) for f, ps in sorted(groups.items())]
            out = parts[0]
            for other in parts[1:]:
                out = out.unionByName(other)
            return out
        fmt, path = next(iter(groups.items()))
    if fmt in _WHOLE_FILE_PARSERS:
        return _read_whole_files(spark, path, _WHOLE_FILE_PARSERS[fmt], metrics)
    if fmt == "ndjsonld":
        return ndjsonld_to_triples(spark.read.text(path), metrics=metrics)
    return read_ntriples(spark, path, metrics=metrics)
