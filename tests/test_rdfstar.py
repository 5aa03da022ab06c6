"""RDF 1.2 triple terms: reify / serialize / parse / query.

Reference roadmap: RDF 1.2 + SPARQL 1.2 (/root/reference/README.md:33-34).
"""

import pytest
from pyspark.sql import functions as F

from trident_spark.pipeline import rdfstar, sinks

COLS = ("subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string, src string")

ROWS = [
    ("http://x/d1", "http://p/provider", "http://x/org1", "iri",
     None, None, "src1"),
    ("http://x/d2", "http://p/title", 'He said "hi"\n', "literal",
     None, None, "src2"),
    ("http://x/d3", "http://p/count", "42", "literal",
     "http://www.w3.org/2001/XMLSchema#integer", None, "src3"),
    ("_:b9", "http://p/note", "from a blank", "literal",
     None, None, "src4"),
    ("http://x/d4", "http://p/title", "bonjour", "literal",
     None, "fr", "src5"),
]


def _graph(spark):
    return spark.createDataFrame(ROWS, COLS)


def test_reify_emits_pair_per_triple(spark):
    out = rdfstar.reify(_graph(spark), "http://p/source", "src")
    rows = out.collect()
    assert len(rows) == 2 * len(ROWS)
    reifies = [r for r in rows if r["pred"] == rdfstar.RDF_REIFIES]
    anns = [r for r in rows if r["pred"] == "http://p/source"]
    assert len(reifies) == len(anns) == len(ROWS)
    assert all(r["obj_kind"] == "triple" for r in reifies)
    assert all(r["obj_lexical"].startswith("<<(") for r in reifies)
    # reifier ids pair up 1:1 between the two statement kinds
    assert {r["subj"] for r in reifies} == {r["subj"] for r in anns}


def test_reifier_is_deterministic_content_hash(spark):
    a = {r["subj"] for r in
         rdfstar.reify(_graph(spark), "http://p/source", "src").collect()}
    b = {r["subj"] for r in
         rdfstar.reify(_graph(spark).repartition(7), "http://p/source",
                       "src").collect()}
    assert a == b  # partitioning-independent (content-hashed)


def test_ntriples_roundtrip_with_triple_terms(spark):
    re1 = rdfstar.reify(_graph(spark), "http://p/source", "src")
    back = sinks.from_ntriples(sinks.to_ntriples(re1))
    assert {tuple(r) for r in re1.collect()} == \
           {tuple(r) for r in back.collect()}


def test_nquads_roundtrip_with_triple_terms(spark):
    re1 = rdfstar.reify(_graph(spark), "http://p/source", "src") \
        .withColumn("g", F.lit("http://g/prov"))
    back = sinks.from_nquads(sinks.to_nquads(re1, "g"))
    orig = {tuple(r) for r in re1.select(
        "subj", "pred", "obj_lexical", "obj_kind", "obj_datatype",
        "obj_lang", "g").collect()}
    assert orig == {tuple(r) for r in back.collect()}


def test_nested_reification_roundtrip(spark):
    re1 = rdfstar.reify(_graph(spark), "http://p/source", "src")
    re2 = rdfstar.reify(re1.withColumn("lvl", F.lit("meta")),
                        "http://p/level", "lvl")
    back = sinks.from_ntriples(sinks.to_ntriples(re2))
    assert {tuple(r) for r in re2.collect()} == \
           {tuple(r) for r in back.collect()}


def _encoded(frame):
    """``frame`` as the pipeline encodes it: (edges, terms)."""
    from trident_spark.pipeline.kg import dedup_triples, encode_triples

    terms, edges = encode_triples(frame.select(
        "*", F.lit("http://a/1").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("test").alias("source")))
    return dedup_triples(edges), terms


def _both(frame, sparql):
    """The bag of rows ``sparql`` returns on ``frame`` and on its
    warehouse, which must agree."""
    from tests.test_sparql import _differential

    return _differential(frame, *_encoded(frame), sparql)


_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XSD = "http://www.w3.org/2001/XMLSchema#"
_R = f"?r <{_RDF}reifies> "
_D1 = ("http://x/d1", "http://p/provider", "http://x/org1")


@pytest.fixture(scope="module")
def annotated(spark):
    """The asserted graph, its reification with a source annotation, a
    reification of that reification with a level annotation, and three
    statements about triples (d1 about its own, d2 about d1's, d5 about
    one whose subject is its object)."""
    g = _graph(spark)
    re1 = rdfstar.reify(g, "http://p/source", "src")
    re2 = rdfstar.reify(re1.withColumn("lvl", F.lit("meta")),
                        "http://p/level", "lvl")
    says = spark.createDataFrame([
        (s, "http://p/says", f"<<( <{t[0]}> <{t[1]}> <{t[2]}> )>>",
         "triple", None, None, None) for s, t in (
            ("http://x/d1", _D1), ("http://x/d2", _D1),
            ("http://x/d5", ("http://x/d5", "http://p/same",
                             "http://x/d5")))], COLS)
    return g.union(says).drop("src").union(re1).union(re2) \
        .localCheckpoint(eager=True)


@pytest.mark.parametrize("sparql, want", [
    # variable components, with each object's kind
    ("SELECT ?s ?p ?o ?iri WHERE { " + _R + "<<( ?s ?p ?o )>> . "
     "?r <http://p/source> ?v BIND(isIRI(?o) AS ?iri) }",
     {("http://x/d1", "http://p/provider", "http://x/org1", True),
      ("http://x/d2", "http://p/title", 'He said "hi"\n', False),
      ("http://x/d3", "http://p/count", "42", False),
      ("_:b9", "http://p/note", "from a blank", False),
      ("http://x/d4", "http://p/title", "bonjour", False)}),
    # each literal object's datatype and language
    ("SELECT ?s ?dt ?l WHERE { " + _R + "<<( ?s ?p ?o )>> . "
     "?r <http://p/source> ?v FILTER(isLITERAL(?o)) "
     "BIND(DATATYPE(?o) AS ?dt) "
     "BIND(LANG(?o) AS ?l) }",
     {("http://x/d2", _XSD + "string", ""),
      ("http://x/d3", _XSD + "integer", ""),
      ("_:b9", _XSD + "string", ""),
      ("http://x/d4", _RDF + "langString", "fr")}),
    # the annotation joins back to the quoted triple's subject
    ("SELECT ?s ?v WHERE { " + _R + "<<( ?s ?p ?o )>> . "
     "?r <http://p/source> ?v }",
     {("http://x/d1", "src1"), ("http://x/d2", "src2"),
      ("http://x/d3", "src3"), ("_:b9", "src4"), ("http://x/d4", "src5")}),
    # ... and to the asserted triple
    ("SELECT ?s ?v WHERE { " + _R + "<<( ?s ?p ?o )>> . ?s ?p ?o . "
     "?r <http://p/source> ?v }",
     {("http://x/d1", "src1"), ("http://x/d2", "src2"),
      ("http://x/d3", "src3"), ("_:b9", "src4"), ("http://x/d4", "src5")}),
    ("SELECT ?p ?o WHERE { " + _R + "<<( <http://x/d1> ?p ?o )>> }",
     {("http://p/provider", "http://x/org1")}),
    ("SELECT ?s WHERE { " + _R + '<<( ?s ?p "He said \\"hi\\"\\n" )>> }',
     {("http://x/d2",)}),
    ("SELECT ?s WHERE { " + _R + "<<( ?s ?p 42 )>> }", {("http://x/d3",)}),
    ("SELECT ?s WHERE { " + _R + '<<( ?s ?p "bonjour"@FR )>> }',
     {("http://x/d4",)}),
    ("SELECT ?s WHERE { " + _R + '<<( ?s ?p "bonjour" )>> }', set()),
    # a blank-node component
    ("SELECT ?s ?o WHERE { " + _R + "<<( ?s ?p ?o )>> . "
     "?r <http://p/source> ?v FILTER(isBLANK(?s)) }",
     {("_:b9", "from a blank")}),
    # a nested triple term binds whole, and joins the reification it names
    ("SELECT ?s ?lvl WHERE { ?r2 <http://p/level> ?lvl . ?r2 "
     + _R[3:] + f"<<( ?r <{_RDF}reifies> ?t )>> . " + _R + "?t . "
     + _R + "<<( ?s ?p ?o )>> FILTER(isTRIPLE(?t)) }",
     {(s, "meta") for s in ("http://x/d1", "http://x/d2", "http://x/d3",
                            "_:b9", "http://x/d4")}),
    # the nested object's own kind
    ("SELECT DISTINCT ?k WHERE { ?r2 " + _R[3:] + "<<( ?r ?q ?t )>> "
     "BIND(isTRIPLE(?t) AS ?k) }", {(True,), (False,)}),
    ("ASK { " + _R + "<<( <http://x/d1> <http://p/provider> "
     "<http://x/org1> )>> }", {(True,)}),
    # a variable the outer pattern binds too, and one repeated inside
    ("SELECT ?s ?o WHERE { ?s <http://p/says> <<( ?s ?p ?o )>> }",
     {("http://x/d1", "http://x/org1"), ("http://x/d5", "http://x/d5")}),
    ("SELECT ?x WHERE { ?s <http://p/says> <<( ?x ?p ?x )>> }",
     {("http://x/d5",)}),
], ids=["components", "literal_meta", "annotation", "asserted",
        "constant_subject", "escaped_literal", "bare_number", "lang_constant",
        "plain_not_tagged", "blank_component", "nested", "nested_kind",
        "ask", "outer_var", "repeated_var"])
def test_quoted_pattern_differential(annotated, sparql, want):
    """Quoted-triple patterns answer alike on a lexical frame and on its
    warehouse, where they read the term dictionary's triple terms."""
    assert set(_both(annotated, sparql)) == want


def test_triple_term_components_keep_iri_spelling(spark):
    """A component IRI inside a triple term is the asserted triple's IRI,
    not its URI form: the quoted triple joins back to the asserted one,
    and TRIPLE() builds the stored term."""
    g = spark.createDataFrame(
        [("http://x/café", "http://p/provider", "http://x/org1", "iri",
          None, None, "src1")], COLS)
    frame = g.drop("src").union(
        rdfstar.reify(g, "http://p/source", "src"))
    assert _both(frame, "SELECT ?d ?o WHERE { " + _R + "<<( ?d "
                 "<http://p/provider> ?o )>> . ?d <http://p/provider> ?o }"
                 ) == {("http://x/café", "http://x/org1"): 1}
    assert _both(frame, "SELECT ?s WHERE { " + _R + "?tt . "
                 "?s ?p ?o BIND(TRIPLE(?s, ?p, ?o) AS ?t2) "
                 "FILTER(sameTerm(?t2, ?tt)) }") == {("http://x/café",): 1}


def test_ntriples_reader_stores_triple_terms_canonically():
    """The N-Triples reader stores a triple term as the Turtle reader and
    rdfstar.triple_term write it, whatever its spacing and escapes."""
    from trident_spark.pipeline.turtle import parse_turtle

    for term in ("<<(<http://a> <http://b> <http://c>)>>",
                 '<<(  <http://a>   <http://b> "caf\\u00E9" )>>',
                 "<<( _:b1 <http://b> <<(<http://x/café> <http://p> "
                 '"x"@en)>> )>>'):
        line = f"<http://s> <http://p> {term} ."
        assert sinks.parse_ntriples_line(line) == parse_turtle(line)[0]
    assert sinks.parse_ntriples_line(
        '<http://s> <http://p> <<(  <http://a> <http://b> "caf\\u00E9" )>> .'
    )[2] == '<<( <http://a> <http://b> "café" )>>'


def test_ntriples_reader_rejects_malformed_triple_terms(spark):
    """A malformed triple term makes its line malformed: quarantined
    under errors="column", raised under errors="strict"."""
    bad = ["<http://s> <http://p> <<( <http://a> <http://b> )>> .",
           "<http://s> <http://p> <<( <<( <http://a> <http://b> <http://c> "
           ")>> <http://p> <http://o> )>> .",
           "<http://s> <http://p> <<( <http://a> <http://b> p:c )>> ."]
    good = "<http://s> <http://p> <<( <http://a> <http://b> <http://c> )>> ."
    lines = spark.createDataFrame([(x,) for x in [good, *bad]], "line string")
    got = sinks.from_ntriples(lines, errors="column").collect()
    assert sorted(r.error for r in got if r.error) == sorted(bad)
    assert [r.obj_lexical for r in got if not r.error] == [
        "<<( <http://a> <http://b> <http://c> )>>"]
    for line in bad:
        with pytest.raises(Exception, match="unparseable"):
            sinks.from_ntriples(
                spark.createDataFrame([(line,)], "line string")).collect()


def test_ntriples_reader_rejects_turtle_shorthand_in_triple_terms(spark):
    """N-Triples 1.2 spells every term of a triple term in full: `a`, a
    bare number or boolean, a pname or a relative IRI inside one makes
    its line malformed.  Canonical terms, UCHAR escapes included, parse."""
    bad = [f"<http://s> <http://p> <<( {t} )>> ." for t in (
        "<http://a> a 42", "<http://a> <http://b> true", "<rel> <http://b> "
        "<http://c>", "<http://a> <http://b> <rel>", '<http://a> <http://b> '
        '"x"^^<dt>', "<http://a> <http://b> :c")]
    good = ['<http://s> <http://p> <<( <http://a> <http://x/caf\\u00E9> '
            '"1"^^<http://www.w3.org/2001/XMLSchema#integer> )>> .',
            '<http://s> <http://p> <<( _:b1 <http://b> "caf\\u00E9"@en )>> .']
    lines = spark.createDataFrame([(x,) for x in [*good, *bad]],
                                  "line string")
    got = sinks.from_ntriples(lines, errors="column").collect()
    assert sorted(r.error for r in got if r.error) == sorted(bad)
    assert sorted(r.obj_lexical for r in got if not r.error) == [
        '<<( <http://a> <http://x/café> '
        '"1"^^<http://www.w3.org/2001/XMLSchema#integer> )>>',
        '<<( _:b1 <http://b> "café"@en )>>']
    with pytest.raises(Exception, match="unparseable"):
        sinks.from_ntriples(
            spark.createDataFrame([(bad[0],)], "line string")).collect()


def test_turtle_renders_triple_terms(spark):
    re1 = rdfstar.reify(_graph(spark), "http://p/source", "src")
    blocks = "\n".join(r["block"] for r in sinks.to_turtle(re1).collect())
    assert "<<(" in blocks and ")>>" in blocks
    # triple term emitted verbatim, not quoted as a literal
    assert '"<<(' not in blocks
