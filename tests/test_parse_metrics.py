"""Dirty-parse skip accounting (sources/metrics.py) + statement rollback.

Reference: ParserPump reports every parse failure per file
(tools/.../HalyardBulkLoad.java:321-482); RDF4J skip-invalid drops the
WHOLE bad statement, never a fabricated prefix of it.
"""

from __future__ import annotations

import pytest

from halyard_spark.sources.metrics import ParseMetrics
from halyard_spark.sources.rio import read_ntriples, read_rdf
from halyard_spark.sources.trix import parse_trix
from halyard_spark.sources.turtle import parse_turtle


# ---------------------------------------------------------------------------
# Statement rollback (ADVICE r4: resync must not leave partial emissions)
# ---------------------------------------------------------------------------


def test_truncated_statement_fabricates_nothing():
    # 'ex:bad ex:p' is truncated; the old resync consumed the NEXT
    # statement's subject as its object, fabricating (ex:bad ex:p ex:c)
    # while dropping 'ex:c ex:d ex:e .' — the rollback must emit nothing
    # for the bad statement.
    text = (
        "@prefix ex: <urn:ex:> .\n"
        "ex:bad ex:p # truncated here\n"
        "ex:c ex:d ex:e .\n"
        "ex:f ex:g ex:h .\n"
    )
    out = parse_turtle(text)
    assert ("<urn:ex:bad>", "<urn:ex:p>", "<urn:ex:c>", None) not in out
    # the following intact statement still parses
    assert ("<urn:ex:f>", "<urn:ex:g>", "<urn:ex:h>", None) in out


def test_rollback_inside_graph_block():
    text = (
        "@prefix ex: <urn:ex:> .\n"
        "ex:g {\n"
        "  ex:a ex:p ex:b .\n"
        "  ex:bad ex:q \n"
        "  ex:c ex:r ex:d .\n"
        "  ex:e ex:s ex:f .\n"
        "}\n"
    )
    out = parse_turtle(text)
    assert ("<urn:ex:a>", "<urn:ex:p>", "<urn:ex:b>", "<urn:ex:g>") in out
    assert ("<urn:ex:e>", "<urn:ex:s>", "<urn:ex:f>", "<urn:ex:g>") in out
    # nothing fabricated from the truncated statement's prefix
    assert not any(s == "<urn:ex:bad>" for s, _, _, _ in out)


def test_multi_triple_statement_rolls_back_all_emissions():
    # predicate-list statement emits one triple, then fails: BOTH the
    # emitted prefix and the failure must vanish.
    text = "@prefix ex: <urn:ex:> .\nex:a ex:p ex:b ; ex:q ??? .\nex:ok ex:r ex:s .\n"
    out = parse_turtle(text)
    assert out == [("<urn:ex:ok>", "<urn:ex:r>", "<urn:ex:s>", None)]


# ---------------------------------------------------------------------------
# Skip counters: k bad inputs -> exactly k counted
# ---------------------------------------------------------------------------


def test_turtle_statement_skips_counted(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"f{i}.ttl").write_text(
            "@prefix ex: <urn:ex:> .\n"
            f"ex:a{i} ex:p ex:b .\n"
            "ex:broken ex:q ??? .\n"  # 1 bad statement per file
        )
    m = ParseMetrics(spark)
    df = read_rdf(spark, str(tmp_path), fmt="turtle", metrics=m)
    assert df.count() == 3
    snap = m.snapshot()
    assert snap["statements_skipped"] == 3
    assert snap["files_failed"] == 0


def test_ntriples_bad_lines_counted_jvm_side(spark, tmp_path):
    (tmp_path / "a.nt").write_text(
        "<urn:s> <urn:p> <urn:o> .\n"
        "# a comment\n"
        "\n"
        "this is not a triple\n"
        "<urn:s2> <urn:p2> missing-dot\n"
        "<urn:s3> <urn:p3> <urn:o3> .\n"
    )
    m = ParseMetrics(spark)
    df = read_ntriples(spark, str(tmp_path / "a.nt"), metrics=m)
    assert df.count() == 2
    snap = m.snapshot()
    # comments/blank lines are NOT skips; the two malformed lines are
    assert snap["statements_skipped"] == 2
    # no action yet on a second metrics object -> snapshot must not block
    m2 = ParseMetrics(spark)
    read_ntriples(spark, str(tmp_path / "a.nt"), metrics=m2)
    assert m2.snapshot()["statements_skipped"] == 0


def test_unparseable_files_counted(spark, tmp_path):
    (tmp_path / "good.rdf").write_text(
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="urn:ex:">'
        '<rdf:Description rdf:about="urn:ex:s"><ex:p>v</ex:p></rdf:Description></rdf:RDF>'
    )
    (tmp_path / "bad1.rdf").write_text("<rdf:RDF unclosed")
    (tmp_path / "bad2.rdf").write_text("not xml at all <<<")
    m = ParseMetrics(spark)
    df = read_rdf(spark, str(tmp_path), metrics=m)
    assert df.count() == 1
    assert m.snapshot()["files_failed"] == 2


def test_bulk_load_manifest_carries_parse_metrics(spark, tmp_path):
    from halyard_spark.pipeline import rdfload

    src = tmp_path / "in"
    src.mkdir()
    (src / "good.nt").write_text("<urn:s> <urn:p> <urn:o> .\nbad line here\n")
    (src / "bad.ttl").write_text("@prefix ex: <urn:ex:> .\nex:a ex:p ??? .\nex:b ex:q ex:c .\n")
    (src / "README.md").write_text("# not rdf\n")
    with pytest.warns(UserWarning, match="non-RDF extension"):
        manifest = rdfload.bulk_load_rdf(spark, str(src), str(tmp_path / "out"))
    pm = manifest["parse_metrics"]
    assert pm["statements_skipped"] == 2  # 1 bad nt line + 1 bad ttl statement
    assert pm["files_failed"] == 0
    assert pm["files_skipped_unknown_ext"] == 1
    assert pm["skipped_paths"] == [str(src / "README.md")]


# ---------------------------------------------------------------------------
# One error policy: malformed input is counted, parser bugs fail the job
# ---------------------------------------------------------------------------

DEEP = 3000  # nesting far past the interpreter's recursion limit


@pytest.mark.parametrize(
    "name, text, rows, files_failed, statements_skipped",
    [
        ("deep.ttl", "<urn:s> <urn:p> " + "(" * DEEP + ")" * DEEP + " .\n", 0, 1, 0),
        ("deep.jsonld", '{"@id": "urn:s", "urn:p": ' + "[" * DEEP + "]" * DEEP + "}", 0, 1, 0),
        (
            "deep.rdf",
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="urn:ex:">'
            + "<rdf:Description><ex:p>" * DEEP
            + "</ex:p></rdf:Description>" * DEEP
            + "</rdf:RDF>",
            0, 1, 0,
        ),
        # TriX is parsed without recursion: the nested <triple> makes the
        # outer one malformed (one term, not three), a statement skip
        (
            "deep.trix",
            '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/"><graph>'
            + "<triple>" * DEEP + "</triple>" * DEEP + "</graph></TriX>",
            0, 0, 1,
        ),
        # ND-JSON-LD: the deep line is one skipped statement, the good
        # line next to it still loads
        (
            "deep.ndjsonld",
            '{"@id": "urn:s", "urn:p": ' + "[" * DEEP + "]" * DEEP + "}\n"
            '{"@id": "urn:good", "urn:p": "ok"}\n',
            1, 0, 1,
        ),
    ],
    ids=["ttl", "jsonld", "rdf", "trix", "ndjsonld"],
)
def test_deep_nesting_is_counted_not_fatal(
    spark, tmp_path, name, text, rows, files_failed, statements_skipped
):
    (tmp_path / name).write_text(text)
    m = ParseMetrics(spark)
    got = read_rdf(spark, str(tmp_path / name), metrics=m).collect()
    assert len(got) == rows
    snap = m.snapshot()
    assert snap["files_failed"] == files_failed
    assert snap["statements_skipped"] == statements_skipped


def test_whole_file_loop_counts_parse_errors_and_fails_on_bugs(spark, tmp_path):
    from pyspark.errors import PythonException

    from halyard_spark.sources.rio import _read_whole_files

    (tmp_path / "a.ttl").write_text("<urn:s> <urn:p> <urn:o> .\n")
    m = ParseMetrics(spark)
    # a ValueError is malformed input: the file is counted and skipped
    df = _read_whole_files(spark, str(tmp_path), lambda text, path: int("x"), m)
    assert df.count() == 0
    assert m.snapshot()["files_failed"] == 1
    # any other exception is a parser bug and fails the job
    df = _read_whole_files(spark, str(tmp_path), lambda text, path: 1 / 0, m)
    with pytest.raises(PythonException, match="ZeroDivisionError"):
        df.count()


# ---------------------------------------------------------------------------
# Extension dispatch: unknown extensions skipped on expansion only
# ---------------------------------------------------------------------------


def test_directory_expansion_skips_unknown_extensions(spark, tmp_path):
    (tmp_path / "data.nt").write_text("<urn:s> <urn:p> <urn:o> .\n")
    (tmp_path / "README.md").write_text("docs, would shred as 0 NT lines\n")
    (tmp_path / "notes.json").write_text('{"k": 1}\n')
    m = ParseMetrics(spark)
    with pytest.warns(UserWarning, match="non-RDF extension"):
        df = read_rdf(spark, str(tmp_path), metrics=m)
    assert df.count() == 1
    assert sorted(m.files_skipped_unknown_ext) == [
        str(tmp_path / "README.md"),
        str(tmp_path / "notes.json"),
    ]


def test_explicit_single_file_keeps_nt_fallback(spark, tmp_path):
    # an explicit path with an unregistered extension is the historical
    # behavior: route to the N-Triples parser
    p = tmp_path / "dump.unknownext"
    p.write_text("<urn:s> <urn:p> <urn:o> .\n")
    assert read_rdf(spark, str(p)).count() == 1


def test_n3_dispatch_rides_turtle(spark, tmp_path):
    (tmp_path / "a.n3").write_text(
        "@prefix ex: <urn:ex:> .\n"
        "ex:a ex:p ex:b .\n"
        "{ ex:x ex:y ex:z } => { ex:q ex:r ex:s } .\n"  # N3 formula: out of scope
        "ex:c ex:q ex:d .\n"
    )
    m = ParseMetrics(spark)
    rows = {tuple(r) for r in read_rdf(spark, str(tmp_path / "a.n3"), metrics=m).collect()}
    assert ("<urn:ex:a>", "<urn:ex:p>", "<urn:ex:b>", None) in rows
    assert ("<urn:ex:c>", "<urn:ex:q>", "<urn:ex:d>", None) in rows
    # the formula did not fabricate triples and was counted as skipped
    assert not any("urn:ex:x" in r[0] for r in rows)
    assert m.snapshot()["statements_skipped"] >= 1


# ---------------------------------------------------------------------------
# TriX
# ---------------------------------------------------------------------------

TRIX_DOC = """<?xml version="1.0"?>
<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">
  <graph>
    <uri>urn:g:one</uri>
    <triple>
      <uri>urn:s</uri><uri>urn:p</uri><uri>urn:o</uri>
    </triple>
    <triple>
      <id>n1</id><uri>urn:p</uri>
      <plainLiteral xml:lang="en">hello</plainLiteral>
    </triple>
  </graph>
  <graph>
    <triple>
      <uri>urn:s2</uri><uri>urn:p2</uri>
      <typedLiteral datatype="http://www.w3.org/2001/XMLSchema#integer">42</typedLiteral>
    </triple>
  </graph>
</TriX>
"""


def test_parse_trix_terms_and_graphs():
    out = parse_trix(TRIX_DOC, bnode_scope="t")
    assert ("<urn:s>", "<urn:p>", "<urn:o>", "<urn:g:one>") in out
    assert ("_:t_n1", "<urn:p>", '"hello"@en', "<urn:g:one>") in out
    assert (
        "<urn:s2>",
        "<urn:p2>",
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
        None,
    ) in out
    assert len(out) == 3


def test_trix_bad_triples_skipped_statementwise():
    doc = TRIX_DOC.replace(
        "<uri>urn:s</uri><uri>urn:p</uri><uri>urn:o</uri>",
        "<uri>urn:s</uri><uri>urn:p</uri>",  # 2-term triple: skip
    )
    skips: list = []
    out = parse_trix(doc, statement_skips=skips)
    assert len(out) == 2 and len(skips) == 1


def test_read_trix_dispatch_and_bnode_scoping(spark, tmp_path):
    (tmp_path / "a.trix").write_text(TRIX_DOC)
    (tmp_path / "b.trix").write_text(TRIX_DOC)
    df = read_rdf(spark, str(tmp_path))
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 6
    # bnode ids scoped per file: the two _:..._n1 subjects differ
    bn = {s for s, _, _, _ in rows if s.startswith("_:")}
    assert len(bn) == 2
    # direct reader equivalence
    assert read_rdf(spark, str(tmp_path / "a.trix"), fmt="trix").count() == 3
