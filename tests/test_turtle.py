"""Turtle parser tests: unit vectors + serialize→parse→identical-set
round-trip on real pipeline output (the north-star round-trip suite,
extended from N-Triples to Turtle)."""

import pytest
from pyspark.sql import functions as F

from trident_spark.pipeline.sinks import to_turtle, turtle_header
from trident_spark.pipeline.turtle import TurtleError, from_turtle, parse_turtle

SCHEMA = "https://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"


def test_basic_block():
    got = parse_turtle("""
        @prefix schema: <https://schema.org/> .
        <http://x/alice> a schema:Person ;
            schema:name "Alice" ;
            schema:knows <http://x/bob>, <http://x/carol> .
    """)
    assert set(got) == {
        ("http://x/alice", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
        ("http://x/alice", SCHEMA + "name", "Alice", "literal", None, None),
        ("http://x/alice", SCHEMA + "knows", "http://x/bob", "iri", None, None),
        ("http://x/alice", SCHEMA + "knows", "http://x/carol", "iri", None, None),
    }


def test_literals_lang_datatype_numbers_booleans():
    got = parse_turtle("""
        @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        <http://x/s> <http://x/p> "hi"@en-US ;
            <http://x/q> "42"^^xsd:integer ;
            <http://x/r> 7 ;
            <http://x/t> 3.5 ;
            <http://x/u> true ;
            <http://x/v> "esc \\" \\\\ \\n done" .
    """)
    d = {(p): (lex, kind, dt, lang) for _, p, lex, kind, dt, lang in got}
    assert d["http://x/p"] == ("hi", "literal", None, "en-US")
    assert d["http://x/q"] == ("42", "literal", XSD + "integer", None)
    assert d["http://x/r"] == ("7", "literal", XSD + "integer", None)
    assert d["http://x/t"] == ("3.5", "literal", XSD + "decimal", None)
    assert d["http://x/u"] == ("true", "literal", XSD + "boolean", None)
    assert d["http://x/v"] == ('esc " \\ \n done', "literal", None, None)


def test_base_resolution_and_comments():
    got = parse_turtle("""
        @base <http://ex.org/dir/> .   # comment with <fake> and "quote
        <doc.html#frag> <rel> <../up> .  # trailing comment
    """)
    assert got == [("http://ex.org/dir/doc.html#frag", "http://ex.org/dir/rel",
                    "http://ex.org/up", "iri", None, None)]


def test_sparql_style_prefix_and_blank_nodes():
    got = parse_turtle("""
        PREFIX s: <http://s/>
        _:b1 s:p _:b2 .
    """)
    assert got == [("_:b1", "http://s/p", "_:b2", "blank", None, None)]


def test_errors_are_loud():
    with pytest.raises(TurtleError):
        parse_turtle("<http://x/s> <http://x/p> [ <http://x/q> 1 .")  # no ]
    with pytest.raises(TurtleError):
        parse_turtle("<http://x/s> undefined:name 1 .")
    with pytest.raises(TurtleError):
        parse_turtle("<http://x/s> <http://x/p> .")  # missing object


def test_turtle_roundtrip_pipeline_output(spark):
    from trident_spark.pipeline import extract_stage, kg
    from trident_spark.pipeline.pages import pages_df

    skol = kg.skolemize(extract_stage.raw_triples(
        extract_stage.extract_pages(pages_df(spark, 60))))
    triples = skol.select("subj", "pred", "obj_lexical", "obj_kind",
                          "obj_datatype", "obj_lang").distinct()
    blocks = to_turtle(triples)
    doc = turtle_header() + "\n" + "\n".join(
        r["block"] for r in blocks.collect())
    parsed = set(parse_turtle(doc))
    want = {tuple(r) for r in triples.collect()}
    assert parsed == want


def test_from_turtle_distributed(spark):
    docs = spark.createDataFrame(
        [("@prefix s: <http://s/> . <http://x/a> s:p \"1\" .",),
         ("<http://x/b> <http://s/q> <http://x/c> .",),
         (None,)],
        "doc string",
    )
    rows = {tuple(r) for r in from_turtle(docs).collect()}
    assert rows == {
        ("http://x/a", "http://s/p", "1", "literal", None, None),
        ("http://x/b", "http://s/q", "http://x/c", "iri", None, None),
    }


def test_nquads_roundtrip_with_blank_and_default_graph(spark):
    from trident_spark.pipeline.sinks import from_nquads, to_nquads

    cols = ("subj string, pred string, obj_lexical string, obj_kind string, "
            "obj_datatype string, obj_lang string, graph string")
    rows = [
        ("http://x/s", "http://x/p", "v", "literal", None, None, "http://g/1"),
        ("http://x/s", "http://x/p", "http://x/o", "iri", None, None, None),
        ("_:b1", "http://x/p", "_:b2", "blank", None, None, "http://g/2"),
        ("http://x/s", "http://x/q", "hé\"s\n", "literal", None, "en",
         "http://g/1"),
    ]
    df = spark.createDataFrame(rows, cols)
    back = from_nquads(to_nquads(df, graph_col="graph"))
    got = {tuple(r) for r in back.collect()}
    assert got == {tuple(r) for r in rows}


def test_nquads_blank_labels_with_underscore_dash_dot(spark):
    """Labels the Turtle tokenizer itself produces ('_' '-' '.') must
    survive an N-Quads round-trip — the old regex silently dropped them."""
    from trident_spark.pipeline.sinks import from_nquads, to_nquads

    cols = ("subj string, pred string, obj_lexical string, obj_kind string, "
            "obj_datatype string, obj_lang string, graph string")
    rows = [
        ("_:b_1", "http://x/p", "_:gen-2", "blank", None, None, None),
        ("_:r4ffe.5", "http://x/p", "v", "literal", None, None, "http://g/1"),
    ]
    df = spark.createDataFrame(rows, cols)
    back = from_nquads(to_nquads(df, graph_col="graph"))
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in rows}


def test_from_nquads_error_channel(spark):
    """Unparseable lines are never silently dropped: strict mode raises,
    column mode quarantines the raw line."""
    import pytest as _pytest

    from trident_spark.pipeline.sinks import from_nquads

    lines = spark.createDataFrame(
        [("<http://x/s> <http://x/p> \"ok\" .",),
         ("this is not n-quads",),
         ("",)],
        "line string",
    )
    with _pytest.raises(Exception, match="unparseable N-Quads line"):
        from_nquads(lines).collect()
    got = from_nquads(lines, errors="column").collect()
    assert len(got) == 2  # blank line skipped
    good = [r for r in got if r["error"] is None]
    bad = [r for r in got if r["error"] is not None]
    assert len(good) == 1 and good[0]["obj_lexical"] == "ok"
    assert len(bad) == 1 and bad[0]["error"] == "this is not n-quads"
    assert bad[0]["subj"] is None


def test_nquads_literal_escapes_decode_as_turtle():
    """The N-Triples reader decodes a literal's escapes as the Turtle
    reader does (UCHAR and every ECHAR), and an undefined escape makes
    the line malformed."""
    from trident_spark.pipeline.sinks import parse_nquads_line
    from trident_spark.pipeline.turtle import parse_turtle

    line = '<http://x/s> <http://x/p> "caf\\u00E9 \\b \\\' \\U0001F600 x" .'
    assert parse_nquads_line(line)[2] == "caf\u00e9 \b ' \U0001F600 x"
    assert parse_nquads_line(line)[:6] == parse_turtle(line)[0]
    for bad in ('"a \\q"', '"\\uD800"'):
        assert parse_nquads_line(f"<http://x/s> <http://x/p> {bad} .") is None


def test_blank_node_property_list_object():
    """schema.org-style nested [...] in object position."""
    doc = """
    @prefix s: <https://schema.org/> .
    <http://x/doc> s:author [ a s:Person ; s:name "Ada" ;
                              s:affiliation [ s:name "ACME" ] ] .
    """
    got = parse_turtle(doc)
    by_pred = {}
    for t in got:
        by_pred.setdefault(t[1], []).append(t)
    author = by_pred["https://schema.org/author"][0]
    assert author[0] == "http://x/doc" and author[3] == "blank"
    b1 = author[2]
    assert (b1, RDF_TYPE, "https://schema.org/Person", "iri", None, None) in got
    assert (b1, "https://schema.org/name", "Ada", "literal", None, None) in got
    aff = [t for t in by_pred["https://schema.org/affiliation"]][0]
    b2 = aff[2]
    assert aff[0] == b1 and aff[3] == "blank" and b2 != b1
    assert (b2, "https://schema.org/name", "ACME", "literal", None, None) in got
    assert len(got) == 5


def test_blank_node_property_list_subject_and_anonymous():
    doc = """
    @prefix s: <https://schema.org/> .
    [ s:name "solo" ] .
    [] s:name "anon" .
    [ s:name "head" ] s:knows <http://x/b> .
    """
    got = parse_turtle(doc)
    assert len(got) == 4
    names = {t[2] for t in got if t[1] == "https://schema.org/name"}
    assert names == {"solo", "anon", "head"}
    knows = [t for t in got if t[1] == "https://schema.org/knows"][0]
    head = [t for t in got if t[2] == "head"][0][0]
    assert knows[0] == head and knows[2] == "http://x/b"
    # all generated labels distinct
    labels = {t[0] for t in got}
    assert len(labels) == 3 and all(l.startswith("_:g") for l in labels)


def test_collections():
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    doc = """
    @prefix s: <https://schema.org/> .
    <http://x/list> s:items ( "a" "b" ) .
    <http://x/empty> s:items ( ) .
    """
    got = parse_turtle(doc)
    empty = [t for t in got if t[0] == "http://x/empty"][0]
    assert empty[2] == rdf + "nil" and empty[3] == "iri"
    items = [t for t in got if t[0] == "http://x/list"][0]
    head = items[2]
    assert items[3] == "blank"
    firsts = {t[0]: t[2] for t in got if t[1] == rdf + "first"}
    rests = {t[0]: (t[2], t[3]) for t in got if t[1] == rdf + "rest"}
    assert firsts[head] == "a"
    nxt, kind = rests[head]
    assert kind == "blank" and firsts[nxt] == "b"
    assert rests[nxt] == (rdf + "nil", "iri")


def test_collection_as_subject():
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    got = parse_turtle('( "x" ) <http://p/note> "head" .')
    note = [t for t in got if t[1] == "http://p/note"][0]
    head = note[0]
    assert (head, rdf + "first", "x", "literal", None, None) in got
    assert note[2] == "head"


def test_blank_labels_distinct_across_documents(spark):
    """Two documents with identical [...] structure must not share
    generated labels when parsed into one DataFrame."""
    d1 = '@prefix s: <https://schema.org/> . <http://x/1> s:a [ s:n "p" ] .'
    d2 = '@prefix s: <https://schema.org/> . <http://x/2> s:a [ s:n "q" ] .'
    docs = spark.createDataFrame([(d1,), (d2,)], "doc string")
    rows = from_turtle(docs).collect()
    blanks = {r["obj_lexical"] for r in rows
              if r["obj_kind"] == "blank"}
    assert len(blanks) == 2  # distinct per document


def test_turtle_numeric_escapes():
    from trident_spark.pipeline.turtle import TurtleError, parse_turtle

    got = parse_turtle(
        '<http://x/s> <http://x/p> "caf\\u00E9 \\U0001F600 \\b" .')
    assert got[0][2] == "café \U0001F600 \b"
    with pytest.raises(TurtleError, match="unsupported escape"):
        parse_turtle('<http://x/s> <http://x/p> "bad \\q" .')


# ---------------------------------------------------------------------------
# RDF 1.2 triple terms in Turtle (object position)
# ---------------------------------------------------------------------------


def test_parse_triple_term_object():
    from trident_spark.pipeline.turtle import parse_turtle

    out = parse_turtle("""
        @prefix p: <http://p/> .
        _:r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
            <<( <http://x/d1> p:provider <http://x/org1> )>> .
        _:r p:source "src1" .
    """)
    assert ("_:r", "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies",
            "<<( <http://x/d1> <http://p/provider> <http://x/org1> )>>",
            "triple", None, None) in out
    assert ("_:r", "http://p/source", "src1", "literal", None, None) in out


def test_parse_nested_triple_term():
    from trident_spark.pipeline.turtle import parse_turtle

    out = parse_turtle(
        '<http://m/1> <http://p/q> '
        '<<( _:r <http://p/r> <<( <http://a> <http://b> "x\\n" )>> )>> .'
    )
    assert out == [(
        "http://m/1", "http://p/q",
        '<<( _:r <http://p/r> <<( <http://a> <http://b> "x\\n" )>> )>>',
        "triple", None, None)]


def test_turtle_roundtrip_with_reified_frame(spark):
    from pyspark.sql import functions as F

    from trident_spark.pipeline import rdfstar, sinks
    from trident_spark.pipeline.turtle import from_turtle

    cols = ("subj string, pred string, obj_lexical string, obj_kind string, "
            "obj_datatype string, obj_lang string, src string")
    g = spark.createDataFrame(
        [("http://x/d1", "http://p/provider", "http://x/org1", "iri",
          None, None, "src1"),
         ("http://x/d2", "http://p/title", 'He said "hi"', "literal",
          None, None, "src2")], cols)
    re1 = rdfstar.reify(g, "http://p/source", "src")
    blocks = sinks.to_turtle(re1)
    header = sinks.turtle_header()
    docs = blocks.select(
        F.concat(F.lit(header + "\n"), F.col("block")).alias("doc"))
    back = from_turtle(docs)
    orig = {tuple(r) for r in re1.collect()}
    got = {tuple(r) for r in back.collect()}
    assert orig == got


# ---------------------------------------------------------------------------
# TriG (named-graph Turtle)
# ---------------------------------------------------------------------------


def test_parse_trig_blocks_and_shorthand():
    from trident_spark.pipeline.turtle import parse_trig

    doc = """
    @prefix s: <https://schema.org/> .
    <http://x/plain> s:name "default" .
    { <http://x/d> s:name "braced-default" . }
    GRAPH <http://g/1> { <http://x/a> s:name "in-g1" ; s:age 5 . }
    <http://g/2> { <http://x/b> s:name "in-g2" }
    _:bg { <http://x/c> s:name "in-blank-graph" . }
    """
    got = parse_trig(doc)
    by_graph = {}
    for t in got:
        by_graph.setdefault(t[6], []).append(t)
    assert {t[2] for t in by_graph[None]} == {"default", "braced-default"}
    assert {t[2] for t in by_graph["http://g/1"]} == {"in-g1", "5"}
    assert by_graph["http://g/2"][0][2] == "in-g2"  # final '.' optional
    assert by_graph["_:bg"][0][2] == "in-blank-graph"


def test_parse_trig_property_list_inside_block():
    from trident_spark.pipeline.turtle import parse_trig

    doc = ('@prefix s: <https://schema.org/> .\n'
           'GRAPH <http://g/1> { <http://x/a> s:author [ s:name "Ada" ] . }')
    got = parse_trig(doc)
    assert all(t[6] == "http://g/1" for t in got)
    blank = [t for t in got if t[1] == "https://schema.org/author"][0][2]
    assert (blank, "https://schema.org/name", "Ada", "literal", None, None,
            "http://g/1") in got


def test_trig_roundtrip(spark):
    from trident_spark.pipeline.sinks import to_trig, turtle_header
    from trident_spark.pipeline.turtle import from_trig

    qcols = ("subj string, pred string, obj_lexical string, obj_kind string, "
             "obj_datatype string, obj_lang string, graph string")
    rows = [
        ("http://x/s", "http://x/p", "v", "literal", None, None, "http://g/1"),
        ("http://x/s", "http://x/p", "http://x/o", "iri", None, None, None),
        ("_:b1", "http://x/p", "_:b2", "blank", None, None, "http://g/2"),
        ("http://x/s", "http://x/q", 'esc"aped\n', "literal", None, "en",
         "http://g/1"),
        ("http://x/t", RDF_TYPE, SCHEMA + "Thing", "iri", None, None,
         "http://g/1"),
    ]
    df = spark.createDataFrame(rows, qcols)
    chunks = to_trig(df)
    docs = chunks.select(
        F.concat(F.lit(turtle_header() + "\n"), F.col("chunk")).alias("doc"))
    back = from_trig(docs)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in rows}


# ---------------------------------------------------------------------------
# RDF 1.2 reifier sugar << >> and annotation blocks {| |}
# ---------------------------------------------------------------------------

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_reifier_sugar_object_position():
    got = parse_turtle(
        '<http://x/s> <http://p/notes> '
        '<< <http://x/a> <http://p/b> "c" >> .')
    note = [t for t in got if t[1] == "http://p/notes"][0]
    r = note[2]
    assert note[3] == "blank" and r.startswith("_:g")
    assert (r, RDF_NS + "reifies",
            '<<( <http://x/a> <http://p/b> "c" )>>', "triple",
            None, None) in got
    # the embedded triple itself is NOT asserted
    assert not any(t[0] == "http://x/a" for t in got)


def test_reifier_sugar_subject_position():
    got = parse_turtle(
        '<< <http://x/a> <http://p/b> <http://x/c> >> '
        '<http://p/certainty> 0.9 .')
    cert = [t for t in got if t[1] == "http://p/certainty"][0]
    r = cert[0]
    assert cert[2] == "0.9"
    assert (r, RDF_NS + "reifies",
            "<<( <http://x/a> <http://p/b> <http://x/c> )>>", "triple",
            None, None) in got


def test_annotation_block():
    got = parse_turtle("""
        @prefix s: <https://schema.org/> .
        <http://x/e> s:name "Eve" {| s:source <http://src/1> ;
                                     s:certainty 0.8 |} ;
                     s:age 30 .
    """)
    # the base triple IS asserted
    assert ("http://x/e", SCHEMA + "name", "Eve", "literal", None,
            None) in got
    reif = [t for t in got if t[1] == RDF_NS + "reifies"][0]
    r = reif[0]
    assert reif[2] == '<<( <http://x/e> <https://schema.org/name> "Eve" )>>'
    assert (r, SCHEMA + "source", "http://src/1", "iri", None, None) in got
    certs = [t for t in got if t[1] == SCHEMA + "certainty"]
    assert certs[0][0] == r and certs[0][2] == "0.8"
    assert ("http://x/e", SCHEMA + "age", "30", "literal",
            XSD + "integer", None) in got
    assert len(got) == 5  # base + reifies + 2 annotations + age


def test_annotation_block_in_trig():
    from trident_spark.pipeline.turtle import parse_trig

    got = parse_trig(
        '<http://g/1> { <http://x/a> <http://p/n> "v" '
        '{| <http://p/w> "8" |} . }')
    assert all(t[6] == "http://g/1" for t in got)
    assert len(got) == 3


def test_to_turtle_empty_prefixes_is_standalone(spark):
    """prefixes={} disables compaction → every block parses without any
    @prefix header (the CLI --export contract: valid standalone files)."""
    from trident_spark.pipeline.sinks import to_turtle

    rows = [("http://x/a", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
            ("http://x/a", SCHEMA + "name", "Ann", "literal", None, None)]
    df = spark.createDataFrame(rows, "subj string, pred string, "
                               "obj_lexical string, obj_kind string, "
                               "obj_datatype string, obj_lang string")
    blocks = to_turtle(df, prefixes={}).collect()
    text = "\n".join(r["block"] for r in blocks)
    assert "@prefix" not in text and "schema:" not in text
    assert set(parse_turtle(text)) == set(map(tuple, rows))


def test_pname_trailing_dot_is_statement_terminator():
    got = parse_turtle("@prefix e: <http://e.org/> . e:s e:p e:o.")
    assert got == [("http://e.org/s", "http://e.org/p", "http://e.org/o",
                    "iri", None, None)]
    got2 = parse_turtle(
        "@prefix e: <http://e.org/> . e:s e:p e:o.1 .")
    # dot INSIDE the local name still allowed (o.1 doesn't end with '.')
    assert got2[0][2] == "http://e.org/o.1"


def test_relative_base_resolves_against_scope():
    got = parse_turtle("""
        @base <http://a.org/x/> . @base <b/> .
        <c> <http://p/q> <d> .
    """)
    assert got == [("http://a.org/x/b/c", "http://p/q",
                    "http://a.org/x/b/d", "iri", None, None)]


def test_iri_uchar_escapes_and_invalid_backslash():
    got = parse_turtle('<http://e.org/\\u00E9> <http://p/q> "x" .')
    assert got[0][0] == "http://e.org/é"
    with pytest.raises(TurtleError, match="invalid backslash"):
        parse_turtle('<http://e.org/\\q> <http://p/q> "x" .')


def test_surrogate_escape_rejected():
    with pytest.raises(TurtleError, match="surrogate"):
        parse_turtle('<http://s/> <http://p/> "\\uD83D\\uDE00" .')


def test_leading_dot_decimal():
    got = parse_turtle("<http://s/> <http://p/> .5 .")
    assert got[0][2:4] == (".5", "literal")


def test_multiple_annotation_blocks():
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    got = parse_turtle(
        '<http://s/> <http://p/> "v" {| <http://a/> 1 |} '
        '{| <http://b/> 2 |} .')
    reifiers = [t[0] for t in got if t[1] == rdf + "reifies"]
    assert len(reifiers) == 2 and reifiers[0] != reifiers[1]


def test_hub_subject_chunks_into_multiple_blocks(spark):
    """A 100k-triple single subject must serialize to >1 Turtle block
    (bounded per-task state) and re-parse to the identical triple set —
    repeated subject blocks merge, so chunking is semantics-preserving.
    Same check for TriG with the hub inside one named graph."""
    from pyspark.sql import functions as F

    from trident_spark.pipeline.sinks import to_trig, to_turtle, turtle_header
    from trident_spark.pipeline.turtle import from_trig, from_turtle

    df = spark.range(100000).select(
        F.lit("http://x/hub").alias("subj"),
        F.lit("https://schema.org/tag").alias("pred"),
        F.concat(F.lit("v"), F.col("id")).alias("obj_lexical"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"))
    blocks = to_turtle(df, prefixes={})
    assert blocks.count() > 1
    docs = blocks.select(F.concat(F.lit(turtle_header({}) + "\n"),
                                  F.col("block")).alias("doc"))
    back = from_turtle(docs)
    assert back.count() == 100000
    assert back.distinct().count() == 100000
    assert back.where(F.col("subj") != "http://x/hub").count() == 0

    quads = df.withColumn("graph", F.lit("http://g/1"))
    chunks = to_trig(quads, prefixes={})
    assert chunks.count() > 1
    tdocs = chunks.select(F.concat(F.lit(turtle_header({}) + "\n"),
                                   F.col("chunk")).alias("doc"))
    tback = from_trig(tdocs)
    assert tback.distinct().count() == 100000
    assert tback.where(F.col("graph") != "http://g/1").count() == 0
