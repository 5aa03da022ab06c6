"""BGP SPARQL engine tests over a small lexical-triples graph."""

import pytest

from trident_spark.query.sparql import SparqlError, ask, query

COLS = ("subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string")

SCHEMA = "https://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@pytest.fixture(scope="module")
def graph(spark):
    rows = [
        ("http://x/alice", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
        ("http://x/alice", SCHEMA + "name", "Alice", "literal", None, None),
        ("http://x/alice", SCHEMA + "worksFor", "http://x/acme", "iri", None, None),
        ("http://x/bob", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
        ("http://x/bob", SCHEMA + "name", "Bob", "literal", None, None),
        ("http://x/bob", SCHEMA + "worksFor", "http://x/globex", "iri", None, None),
        ("http://x/acme", RDF_TYPE, SCHEMA + "Organization", "iri", None, None),
        ("http://x/acme", SCHEMA + "name", "Acme", "literal", None, None),
        ("http://x/globex", RDF_TYPE, SCHEMA + "Organization", "iri", None, None),
        ("http://x/globex", SCHEMA + "name", "Globex", "literal", None, None),
    ]
    return spark.createDataFrame(rows, COLS).cache()


def test_single_pattern(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE { ?p a schema:Person . }
    """)
    assert {r["p"] for r in df.collect()} == {"http://x/alice", "http://x/bob"}


def test_two_pattern_join(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?person ?orgname WHERE {
            ?person schema:worksFor ?org .
            ?org schema:name ?orgname .
        }
    """)
    got = {(r["person"], r["orgname"]) for r in df.collect()}
    assert got == {("http://x/alice", "Acme"), ("http://x/bob", "Globex")}


def test_literal_object_pattern(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?who WHERE { ?who schema:name "Alice" . }
    """)
    assert [r["who"] for r in df.collect()] == ["http://x/alice"]


def test_filter_and_order_and_limit(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?n WHERE {
            ?s a schema:Person .
            ?s schema:name ?n .
            FILTER(?n != "Bob")
        } ORDER BY ?n LIMIT 5
    """)
    assert [r["n"] for r in df.collect()] == ["Alice"]


def test_three_pattern_chain(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?pn ?on WHERE {
            ?p a schema:Person .
            ?p schema:name ?pn .
            ?p schema:worksFor ?o .
            ?o schema:name ?on .
        } ORDER BY ?pn
    """)
    assert [(r["pn"], r["on"]) for r in df.collect()] == [
        ("Alice", "Acme"), ("Bob", "Globex")]


def test_select_star(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT * WHERE { ?s schema:worksFor ?o . }
    """)
    assert sorted(df.columns) == ["o", "s"]


def test_errors(spark, graph):
    with pytest.raises(SparqlError):
        query(graph, "DESCRIBE <http://x/alice>")
    with pytest.raises(SparqlError):
        query(graph, "SELECT ?x WHERE { ?s <http://p> ?o . }")


def test_duplicate_triples_do_not_multiply_solutions(spark, graph):
    doubled = graph.union(graph)
    df = query(doubled, """
        PREFIX schema: <https://schema.org/>
        SELECT ?person ?orgname WHERE {
            ?person schema:worksFor ?org .
            ?org schema:name ?orgname .
        }
    """)
    rows = [(r["person"], r["orgname"]) for r in df.collect()]
    assert sorted(rows) == [("http://x/alice", "Acme"), ("http://x/bob", "Globex")]


def test_ground_pattern_existence_check(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            <http://x/acme> a schema:Organization .
            <http://x/acme> schema:name ?n .
        }
    """)
    assert [r["n"] for r in df.collect()] == ["Acme"]


def test_optional_binds_when_present_null_otherwise(spark, graph):
    # bob's org has a name; add a person with an org that has none
    extra = spark.createDataFrame(
        [("http://x/carol", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
         ("http://x/carol", SCHEMA + "worksFor", "http://x/stealth", "iri",
          None, None)], COLS)
    g = graph.union(extra)
    df = query(g, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p ?on WHERE {
            ?p schema:worksFor ?o .
            OPTIONAL { ?o schema:name ?on }
        } ORDER BY ?p
    """)
    got = [(r["p"], r["on"]) for r in df.collect()]
    assert got == [("http://x/alice", "Acme"), ("http://x/bob", "Globex"),
                   ("http://x/carol", None)]


def test_optional_with_bound_filter(spark, graph):
    extra = spark.createDataFrame(
        [("http://x/carol", SCHEMA + "worksFor", "http://x/stealth", "iri",
          None, None)], COLS)
    df = query(graph.union(extra), """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p schema:worksFor ?o .
            OPTIONAL { ?o schema:name ?on }
            FILTER(!BOUND(?on))
        }
    """)
    assert [r["p"] for r in df.collect()] == ["http://x/carol"]


def test_union(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?x WHERE {
            { ?x a schema:Person } UNION { ?x a schema:Organization }
        }
    """)
    assert {r["x"] for r in df.collect()} == {
        "http://x/alice", "http://x/bob", "http://x/acme", "http://x/globex"}


def test_union_disjoint_vars_align_with_nulls(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?pn ?on WHERE {
            { ?p a schema:Person . ?p schema:name ?pn }
            UNION
            { ?o a schema:Organization . ?o schema:name ?on }
        }
    """)
    got = {(r["pn"], r["on"]) for r in df.collect()}
    assert got == {("Alice", None), ("Bob", None), (None, "Acme"),
                   (None, "Globex")}


def test_aggregate_count_group_by(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t
        ORDER BY DESC(?n) ?t
    """)
    got = [(r["t"], r["n"]) for r in df.collect()]
    assert got == [(SCHEMA + "Organization", 2), (SCHEMA + "Person", 2)]


def test_aggregate_without_group_by_keys(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT (COUNT(*) AS ?n) WHERE { ?s schema:name ?x }
    """)
    assert df.collect()[0]["n"] == 4


def test_predicate_object_lists(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?p a schema:Person ; schema:name ?n ; schema:worksFor ?o .
        } ORDER BY ?n
    """)
    assert [r["n"] for r in df.collect()] == ["Alice", "Bob"]


def test_filter_nested_parens_and_string_with_operators(spark, graph):
    # the round-1 regex engine broke on nested parens and rewrote '='/'&&'
    # inside quoted strings; the tokenizer must survive both
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?s schema:name ?n .
            FILTER((STRLEN(?n) > 4 || ?n = "Bob") && ?n != "x=1 && y.z")
        } ORDER BY ?n
    """)
    assert [r["n"] for r in df.collect()] == ["Alice", "Bob", "Globex"]


def test_filter_string_functions(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?s schema:name ?n .
            FILTER(STRSTARTS(LCASE(?n), "a") || CONTAINS(?n, "lob"))
        } ORDER BY ?n
    """)
    assert [r["n"] for r in df.collect()] == ["Acme", "Alice", "Globex"]


def test_iri_with_dot_in_pattern(spark):
    # '.' inside <IRI> must not terminate the statement
    rows = [("http://ex.org/s.1", "http://ex.org/p.x", "v", "literal",
             None, None)]
    spark_df = spark.createDataFrame(rows, COLS)
    df = query(spark_df, """
        SELECT ?o WHERE { <http://ex.org/s.1> <http://ex.org/p.x> ?o . }
    """)
    assert [r["o"] for r in df.collect()] == ["v"]


def test_nested_group_joins(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?pn WHERE {
            ?p schema:name ?pn .
            { ?p a schema:Person . ?p schema:worksFor ?o }
        } ORDER BY ?pn
    """)
    assert [r["pn"] for r in df.collect()] == ["Alice", "Bob"]


def test_property_path_sequence(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p ?on WHERE { ?p schema:worksFor/schema:name ?on . }
        ORDER BY ?on
    """)
    assert [(r["p"], r["on"]) for r in df.collect()] == [
        ("http://x/alice", "Acme"), ("http://x/bob", "Globex")]


def test_property_path_inverse_and_alternative(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?o WHERE { ?o ^schema:worksFor ?p . }
    """)
    assert {r["o"] for r in df.collect()} == {"http://x/acme", "http://x/globex"}
    df2 = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?s WHERE { ?s (schema:name|schema:jobTitle) "Alice" . }
    """)
    assert [r["s"] for r in df2.collect()] == ["http://x/alice"]


@pytest.fixture(scope="module")
def chain(spark):
    rows = [(f"http://n/{i}", "http://p/next", f"http://n/{i+1}", "iri",
             None, None) for i in range(5)]
    return spark.createDataFrame(rows, COLS).cache()


def test_property_path_plus_transitive(spark, chain):
    df = query(chain, """
        SELECT ?x WHERE { <http://n/0> <http://p/next>+ ?x . } ORDER BY ?x
    """)
    assert [r["x"] for r in df.collect()] == [f"http://n/{i}" for i in range(1, 6)]


def test_filter_function_library(spark, graph):
    """SPARQL 1.1 built-ins in FILTER/BIND: STR/UCASE/LCASE/SUBSTR/REPLACE/
    STRBEFORE/STRAFTER/IF/COALESCE/IN/arithmetic/ENCODE_FOR_URI."""
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n ?b ?a ?u ?e WHERE {
            ?s schema:name ?n .
            FILTER(?n IN ("Alice", "Acme") && STRLEN(?n) * 2 >= 8)
            BIND(STRBEFORE(?n, "c") AS ?b)
            BIND(STRAFTER(?n, "li") AS ?a)
            BIND(IF(CONTAINS(?n, "l"), UCASE(SUBSTR(?n, 1, 2)),
                    COALESCE(REPLACE(?n, "c", "k"), "x")) AS ?u)
            BIND(ENCODE_FOR_URI(CONCAT(?n, " & co")) AS ?e)
        } ORDER BY ?n
    """)
    rows = [tuple(r) for r in df.collect()]
    assert rows == [
        ("Acme", "A", "", "Akme", "Acme%20%26%20co"),
        ("Alice", "Ali", "ce", "AL", "Alice%20%26%20co"),
    ]


def test_filter_strbefore_absent_needle(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?s schema:name ?n . FILTER(STRBEFORE(?n, "zz") = "")
        }
    """)
    assert df.count() == 4  # absent needle → "" for every name


def test_filter_sameterm(spark):
    """sameTerm distinguishes same-lexical different-kind terms when the
    metadata columns are available (object-position bindings)."""
    rows = [
        ("http://x/a", "http://p/p", "v1", "literal", None, None),
        ("http://x/a", "http://p/q", "v1", "literal", None, "en"),
        ("http://x/b", "http://p/p", "v2", "literal", None, None),
        ("http://x/b", "http://p/q", "v2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """
        SELECT ?s WHERE {
            ?s <http://p/p> ?x . ?s <http://p/q> ?y .
            FILTER(sameTerm(?x, ?y))
        }
    """)
    # a's terms differ in lang tag; b's are identical plain literals
    assert [r["s"] for r in df.collect()] == ["http://x/b"]


def test_filter_langmatches(spark):
    rows = [
        ("http://x/a", "http://p/l", "hello", "literal", None, "en-GB"),
        ("http://x/b", "http://p/l", "hallo", "literal", None, "de"),
        ("http://x/c", "http://p/l", "plain", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """
        SELECT ?s WHERE {
            ?s <http://p/l> ?v . FILTER(LANGMATCHES(LANG(?v), "en"))
        }
    """)
    assert [r["s"] for r in df.collect()] == ["http://x/a"]
    df2 = query(g, """
        SELECT ?s WHERE {
            ?s <http://p/l> ?v . FILTER(LANGMATCHES(LANG(?v), "*"))
        } ORDER BY ?s
    """)
    assert [r["s"] for r in df2.collect()] == ["http://x/a", "http://x/b"]


def test_delete_where_literal_with_iri_lexical_collision(spark):
    """DELETE of a literal triple whose lexical form also occurs as an IRI
    elsewhere: the matched solution's OWN kind must drive the anti-join —
    the graph-wide dictionary would say 'iri' and silently miss the row."""
    from trident_spark.query.sparql import update

    rows = [
        ("http://x/a", "http://p/v", "http://x/o", "iri", None, None),
        ("http://x/b", "http://p/w", "http://x/o", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    out = update(
        g, "DELETE { ?s <http://p/w> ?o } WHERE { ?s <http://p/w> ?o }")
    got = {(r["subj"], r["pred"], r["obj_lexical"], r["obj_kind"])
           for r in out.collect()}
    assert got == {("http://x/a", "http://p/v", "http://x/o", "iri")}


def test_construct_object_kind_from_solution(spark):
    """CONSTRUCT copying a variable object keeps the matched term's kind
    even when the lexical form is an IRI elsewhere in the graph."""
    from trident_spark.query.sparql import construct

    rows = [
        ("http://x/a", "http://p/v", "http://x/o", "iri", None, None),
        ("http://x/b", "http://p/w", "http://x/o", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    out = construct(
        g, "CONSTRUCT { ?s <http://p/new> ?o } WHERE { ?s <http://p/w> ?o }")
    got = {(r["subj"], r["pred"], r["obj_lexical"], r["obj_kind"])
           for r in out.collect()}
    assert got == {("http://x/b", "http://p/new", "http://x/o", "literal")}


def test_repeated_variable_pattern(spark):
    """'?x <p> ?x' is legal SPARQL: compiles to one alias + an equality
    constraint, and a literal object whose lexical form equals the subject
    IRI is NOT a match (same-term, not same-string, semantics)."""
    rows = [
        ("http://x/loop", "http://p/self", "http://x/loop", "iri", None, None),
        ("http://x/a", "http://p/self", "http://x/b", "iri", None, None),
        # lexical collision with a literal: must not count as a self-loop
        ("http://x/lit", "http://p/self", "http://x/lit", "literal",
         None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, "SELECT ?x WHERE { ?x <http://p/self> ?x . }")
    assert [r["x"] for r in df.collect()] == ["http://x/loop"]


def test_repeated_variable_in_path_pattern(spark, chain):
    df = query(chain, "SELECT ?x WHERE { ?x <http://p/next>+ ?x . }")
    assert df.collect() == []  # the chain is acyclic


def test_property_path_plus_long_chain_no_cap(spark):
    """A 120-hop chain: the old closure loop capped at 25 rounds and
    silently truncated; recursive doubling must return the full closure
    (and in ~ceil(log2(120)) = 7 join rounds, not 120)."""
    n = 120
    rows = [(f"http://c/{i}", "http://p/next", f"http://c/{i+1}", "iri",
             None, None) for i in range(n)]
    long_chain = spark.createDataFrame(rows, COLS)
    df = query(long_chain, """
        SELECT ?x WHERE { <http://c/0> <http://p/next>+ ?x . }
    """)
    assert {r["x"] for r in df.collect()} == {
        f"http://c/{i}" for i in range(1, n + 1)}


def test_property_path_star_includes_identity(spark, chain):
    df = query(chain, """
        SELECT ?x WHERE { <http://n/2> <http://p/next>* ?x . } ORDER BY ?x
    """)
    assert [r["x"] for r in df.collect()] == [f"http://n/{i}" for i in (2, 3, 4, 5)]


def test_property_path_ground_check(spark, chain):
    df = query(chain, """
        SELECT ?y WHERE {
            <http://n/0> <http://p/next>+ <http://n/4> .
            <http://n/4> <http://p/next> ?y .
        }
    """)
    assert [r["y"] for r in df.collect()] == ["http://n/5"]


def test_property_path_star_zero_length_on_absent_term(spark, chain):
    """SPARQL 1.1 §18.5: eval(Path(X:term, ZeroLengthPath, Y:var)) =
    {(Y, X)} and a ground zero-length path matches when both ends are the
    same term, whether or not that term occurs in the graph."""
    absent = "http://n/absent"

    def rows(q):
        return sorted(tuple(r) for r in query(chain, q).collect())

    assert rows(f"SELECT ?x WHERE {{ <{absent}> <http://p/next>* ?x }}") \
        == [(absent,)]
    assert rows(f"SELECT ?x WHERE {{ ?x <http://p/next>* <{absent}> }}") \
        == [(absent,)]
    assert ask(chain, f"ASK {{ <{absent}> <http://p/next>* <{absent}> }}")
    assert not ask(chain,
                   f"ASK {{ <{absent}> <http://p/next>* <http://n/0> }}")
    # a term in the graph reaches itself through the zero-length path too
    assert rows("SELECT ?x WHERE { ?x <http://p/next>* <http://n/0> }") \
        == [("http://n/0",)]


def test_property_path_zero_or_one_on_absent_term(spark, chain):
    """SPARQL 1.1 §18.5: eval(Path(X:term, ZeroOrOnePath(P), Y:var)) =
    {(Y, X)} ∪ eval(Path(X, P, Y)), so a constant reaches itself whether
    or not it occurs in the graph; two distinct constants need one step."""
    absent = "http://n/absent"

    def rows(q):
        return sorted(tuple(r) for r in query(chain, q).collect())

    assert rows(f"SELECT ?x WHERE {{ <{absent}> <http://p/next>? ?x }}") \
        == [(absent,)]
    assert rows(f"SELECT ?x WHERE {{ ?x <http://p/next>? <{absent}> }}") \
        == [(absent,)]
    assert rows(f"SELECT ?x WHERE {{ <{absent}> ^<http://p/next>? ?x }}") \
        == [(absent,)]
    assert ask(chain, f"ASK {{ <{absent}> <http://p/next>? <{absent}> }}")
    assert not ask(chain,
                   f"ASK {{ <{absent}> <http://p/next>? <http://n/0> }}")
    # graph terms with no step on that side reach only themselves
    assert rows("SELECT ?x WHERE { ?x <http://p/next>? <http://n/0> }") \
        == [("http://n/0",)]
    assert rows("SELECT ?x WHERE { <http://n/5> <http://p/next>? ?x }") \
        == [("http://n/5",)]
    assert ask(chain, "ASK { <http://n/1> <http://p/next>? <http://n/2> }")
    assert not ask(chain,
                   "ASK { <http://n/1> <http://p/next>? <http://n/3> }")


def test_property_path_closure_size_bound(spark, chain, monkeypatch):
    """A closure whose pair relation passes the module bound raises
    SparqlError instead of returning a truncated answer, seeded or
    not."""
    from trident_spark.query import sparql as S

    # the 5-hop chain's closure has 15 pairs; squaring passes 9 pairs
    # (paths of 1-2 hops) on its way to 14 (1-4 hops)
    monkeypatch.setattr(S, "_MAX_CLOSURE_PAIRS", 9)
    with pytest.raises(SparqlError, match="closure"):
        query(chain, "SELECT ?x ?y WHERE { ?x <http://p/next>+ ?y }")
    with pytest.raises(SparqlError, match="closure"):
        query(chain, "SELECT ?x WHERE { <http://n/0> <http://p/next>+ ?x }")
    # a seed whose closure ends before the step relation passes the bound
    df = query(chain, "SELECT ?x WHERE { <http://n/4> <http://p/next>+ ?x }")
    assert [r["x"] for r in df.collect()] == ["http://n/5"]


def test_seeded_closure_jobs_do_not_grow_with_the_graph(spark, monkeypatch):
    """A closure seeded at a node with no out-edge runs one loop round (one
    checkpoint, one count job) whether the rest of the graph holds a
    16-hop or a 64-hop chain: the loop never squares the step relation
    for it.  Rounds are counted rather than all of the query's Spark jobs,
    whose number varies with AQE stage timing."""
    rounds = []
    for hops in (16, 64):
        rows = [(f"http://c/{i}", "http://p/next", f"http://c/{i + 1}", "iri",
                 None, None) for i in range(hops)]
        rows.append(("http://x/hub", "http://p/next", "http://x/leaf", "iri",
                     None, None))
        g = spark.createDataFrame(rows, COLS).localCheckpoint(eager=True)
        calls = []
        checkpoint = type(g).localCheckpoint

        def counted(df, *args, **kwargs):
            calls.append(1)
            return checkpoint(df, *args, **kwargs)

        monkeypatch.setattr(type(g), "localCheckpoint", counted)
        got = query(g, "SELECT ?x WHERE { <http://x/leaf> "
                       "<http://p/next>+ ?x }").collect()
        monkeypatch.undo()
        assert got == []
        rounds.append(len(calls))
    assert rounds == [1, 1], rounds


def test_literal_path_endpoint_compiles_without_a_job(spark, monkeypatch):
    """A path's literal endpoint is its term id, folded at compile time:
    compiling the path collects nothing, on either engine, and the
    endpoint matches its term in any tag case."""
    from trident_spark.query.sparql import query_encoded

    lexical, edges, terms = _encoded(spark, [
        ("http://x/a", "http://p/p", "http://x/m", "iri", None, None),
        ("http://x/m", "http://p/q", "x", "literal", None, "en"),
        ("http://x/b", "http://p/p", "http://x/n", "iri", None, None),
        ("http://x/n", "http://p/q", "x", "literal", None, None)])
    q = 'SELECT ?s WHERE { ?s <http://p/p>/<http://p/q> "x"@EN }'
    collect = type(lexical).collect
    calls = []
    monkeypatch.setattr(type(lexical), "collect",
                        lambda df: calls.append(1) or collect(df))
    plans = [query(lexical, q), query_encoded(edges, terms, q)]
    assert calls == []
    monkeypatch.undo()
    for df in plans:
        assert [r.s for r in df.collect()] == ["http://x/a"]


# ---------------------------------------------------------------------------
# SPARQL 1.1 solution modifiers and pattern operators (round 2 additions)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def people(spark):
    """graph + one unemployed person, for MINUS / NOT EXISTS coverage."""
    rows = [
        ("http://x/alice", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
        ("http://x/alice", SCHEMA + "name", "Alice", "literal", None, None),
        ("http://x/alice", SCHEMA + "worksFor", "http://x/acme", "iri", None, None),
        ("http://x/bob", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
        ("http://x/bob", SCHEMA + "name", "Bob", "literal", None, None),
        ("http://x/bob", SCHEMA + "worksFor", "http://x/globex", "iri", None, None),
        ("http://x/carol", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
        ("http://x/carol", SCHEMA + "name", "Carol", "literal", None, None),
        ("http://x/acme", RDF_TYPE, SCHEMA + "Organization", "iri", None, None),
        ("http://x/acme", SCHEMA + "name", "Acme", "literal", None, None),
        ("http://x/globex", RDF_TYPE, SCHEMA + "Organization", "iri", None, None),
        ("http://x/globex", SCHEMA + "name", "Globex", "literal", None, None),
    ]
    return spark.createDataFrame(rows, COLS).cache()


def test_values_single_var(spark, people):
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p ?name WHERE {
            ?p schema:name ?name .
            VALUES ?name { "Alice" "Globex" }
        }
    """)
    assert sorted(r["name"] for r in df.collect()) == ["Alice", "Globex"]


def test_values_multi_var_rows(spark, people):
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p schema:name ?name ; a ?t .
            VALUES (?name ?t) { ("Alice" schema:Person)
                                ("Acme" schema:Organization) }
        }
    """)
    assert sorted(r["p"] for r in df.collect()) == [
        "http://x/acme", "http://x/alice"]


def test_values_first_element(spark, people):
    # VALUES as the leading element seeds the solution multiset
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?name WHERE {
            VALUES ?p { <http://x/alice> <http://x/carol> }
            ?p schema:name ?name .
        }
    """)
    assert sorted(r["name"] for r in df.collect()) == ["Alice", "Carol"]


def test_values_undef_wildcard_row(spark, people):
    """(r4: UNDEF is now supported per §10.2 — the old loud rejection is
    gone.)  An UNDEF row is a wildcard: here the bound row "Acme" matches
    one name while UNDEF matches every name."""
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?n WHERE {
            ?s schema:name ?n .
            VALUES ?n { UNDEF "Acme" }
        }
    """)
    assert {r["n"] for r in df.collect()} == \
        {"Alice", "Bob", "Carol", "Acme", "Globex"}


def test_minus_removes_compatible_solutions(spark, people):
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p a schema:Person .
            MINUS { ?p schema:worksFor ?o }
        }
    """)
    assert [r["p"] for r in df.collect()] == ["http://x/carol"]


def test_minus_disjoint_domains_is_noop(spark, people):
    # no shared variables → SPARQL keeps every solution
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p a schema:Person .
            MINUS { ?q a schema:Organization }
        }
    """)
    assert df.count() == 3


def test_filter_not_exists(spark, people):
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p a schema:Person .
            FILTER NOT EXISTS { ?p schema:worksFor ?o }
        }
    """)
    assert [r["p"] for r in df.collect()] == ["http://x/carol"]


def test_filter_exists_correlated(spark, people):
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p a schema:Person .
            FILTER EXISTS { ?p schema:worksFor ?o }
        }
    """)
    assert sorted(r["p"] for r in df.collect()) == [
        "http://x/alice", "http://x/bob"]


def test_filter_exists_uncorrelated_gate(spark, people):
    # inner group shares no variable: acts as a global on/off gate
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p a schema:Person .
            FILTER EXISTS { ?z a schema:Organization }
        }
    """)
    assert df.count() == 3
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE {
            ?p a schema:Person .
            FILTER NOT EXISTS { ?z a schema:NoSuchType }
        }
    """)
    assert df.count() == 3


def test_bind_then_filter(spark, people):
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?uname WHERE {
            ?p schema:name ?name .
            BIND(UCASE(?name) AS ?uname)
            FILTER(STRSTARTS(?uname, "A"))
        }
    """)
    assert sorted(r["uname"] for r in df.collect()) == ["ACME", "ALICE"]


def test_bind_joins_downstream_pattern(spark, people):
    # the bound variable participates in later joins
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?p schema:worksFor ?org .
            BIND(?org AS ?company)
            ?company schema:name ?n .
        }
    """)
    assert sorted(r["n"] for r in df.collect()) == ["Acme", "Globex"]


def test_bind_cannot_lead_or_reassign(spark, people):
    with pytest.raises(SparqlError, match="first"):
        query(people, 'SELECT ?x WHERE { BIND("a" AS ?x) }')
    with pytest.raises(SparqlError, match="reassigns"):
        query(people, """
            PREFIX schema: <https://schema.org/>
            SELECT ?n WHERE { ?p schema:name ?n . BIND("x" AS ?n) }
        """)


def test_having(spark, people):
    df = query(people, """
        SELECT ?t (COUNT(?s) AS ?n) WHERE {
            ?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?t .
        } GROUP BY ?t HAVING(COUNT(?s) > 2)
    """)
    assert [(r["t"], r["n"]) for r in df.collect()] == [
        (SCHEMA + "Person", 3)]


def test_having_aggregate_outside_select_computes_hidden(spark, people):
    """(was a loud restriction; lifted r4) HAVING aggregates absent from
    SELECT compute as hidden columns.  SUM over IRI lexicals casts to
    NULL, so the comparison errors every group out — rows drop, no
    crash."""
    df = query(people, """
        SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t }
        GROUP BY ?t HAVING(SUM(?s) > 2)
    """)
    assert df.count() == 0
    assert df.columns == ["t", "n"]


def test_limit_offset_pagination(spark, people):
    q = """
        PREFIX schema: <https://schema.org/>
        SELECT ?name WHERE { ?p schema:name ?name ; a schema:Person }
        ORDER BY ?name LIMIT 2 OFFSET %d
    """
    assert [r["name"] for r in query(people, q % 0).collect()] == [
        "Alice", "Bob"]
    assert [r["name"] for r in query(people, q % 1).collect()] == [
        "Bob", "Carol"]


def test_subquery(spark, people):
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p ?n WHERE {
            ?p a schema:Person ; schema:name ?n .
            { SELECT ?p WHERE { ?p schema:worksFor ?o } }
        }
    """)
    assert sorted(r["n"] for r in df.collect()) == ["Alice", "Bob"]


def test_subquery_with_aggregate(spark, people):
    # inner aggregation feeding an outer join — the canonical subquery use
    df = query(people, """
        PREFIX schema: <https://schema.org/>
        SELECT ?org ?n WHERE {
            ?org a schema:Organization .
            { SELECT ?org (COUNT(?p) AS ?n) WHERE {
                ?p schema:worksFor ?org } GROUP BY ?org }
        }
    """)
    assert sorted((r["org"], r["n"]) for r in df.collect()) == [
        ("http://x/acme", 1), ("http://x/globex", 1)]


def test_ask(spark, people):
    assert ask(people, 'ASK { <http://x/alice> <https://schema.org/name> "Alice" }')
    assert not ask(people, 'ASK WHERE { <http://x/alice> <https://schema.org/name> "Zed" }')
    # query() form returns a 1-row boolean DataFrame
    df = query(people, 'ASK { ?s ?p ?o }')
    assert df.columns == ["ask"] and df.head()["ask"] is True


def test_construct_recovers_term_kinds(spark, people):
    from trident_spark.query.sparql import construct
    out = construct(people, """
        PREFIX schema: <https://schema.org/>
        CONSTRUCT { ?org schema:employee ?p . ?org schema:label ?n }
        WHERE { ?p schema:worksFor ?org . ?org schema:name ?n }
    """)
    rows = {(r["subj"], r["pred"], r["obj_lexical"], r["obj_kind"])
            for r in out.collect()}
    assert (("http://x/acme", SCHEMA + "employee", "http://x/alice", "iri")
            in rows)
    assert (("http://x/acme", SCHEMA + "label", "Acme", "literal") in rows)
    assert len(rows) == 4


def test_construct_constant_template_terms(spark, people):
    from trident_spark.query.sparql import construct
    out = construct(people, """
        PREFIX schema: <https://schema.org/>
        CONSTRUCT { ?p a schema:Employee }
        WHERE { ?p schema:worksFor ?o }
    """)
    rows = {(r["subj"], r["obj_lexical"], r["obj_kind"]) for r in out.collect()}
    assert rows == {
        ("http://x/alice", SCHEMA + "Employee", "iri"),
        ("http://x/bob", SCHEMA + "Employee", "iri"),
    }


# ---------------------------------------------------------------------------
# SPARQL 1.2 quoted-triple patterns (over pipeline/rdfstar.py reifications)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def reified(spark):
    from pyspark.sql import functions as F

    from trident_spark.pipeline import rdfstar

    cols = COLS + ", src string"
    rows = [
        ("http://x/d1", "http://p/provider", "http://x/org1", "iri",
         None, None, "src1"),
        ("http://x/d2", "http://p/provider", "http://x/org2", "iri",
         None, None, "src2"),
        ("http://x/d2", "http://p/title", 'He said "hi"', "literal",
         None, None, "src2"),
    ]
    g = spark.createDataFrame(rows, cols)
    return rdfstar.reify(g, "http://p/source", "src") \
        .union(g.drop("src")).cache()


def test_quoted_pattern_binds_components(spark, reified):
    df = query(reified, """
        SELECT ?d ?o ?v WHERE {
          ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
             <<( ?d <http://p/provider> ?o )>> .
          ?r <http://p/source> ?v .
        }
    """)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("http://x/d1", "http://x/org1", "src1"),
        ("http://x/d2", "http://x/org2", "src2"),
    ]


def test_quoted_pattern_constant_subject(spark, reified):
    df = query(reified, """
        SELECT ?v WHERE {
          ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
             <<( <http://x/d1> <http://p/provider> ?o )>> .
          ?r <http://p/source> ?v .
        }
    """)
    assert [r["v"] for r in df.collect()] == ["src1"]


def test_quoted_pattern_literal_object_escaping(spark, reified):
    df = query(reified, """
        SELECT ?d WHERE {
          ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
             <<( ?d <http://p/title> "He said \\"hi\\"" )>> .
        }
    """)
    assert [r["d"] for r in df.collect()] == ["http://x/d2"]


def test_quoted_pattern_plain_literal_does_not_match_tagged(spark, reified):
    # pattern "nope" matches nothing (value mismatch — exact-form compare)
    df = query(reified, """
        SELECT ?d WHERE {
          ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
             <<( ?d <http://p/title> "nope" )>> .
        }
    """)
    assert df.count() == 0


def test_quoted_pattern_subject_position_rejected(spark, reified):
    with pytest.raises(SparqlError, match="object terms only"):
        query(reified, """
            SELECT ?p WHERE { <<( ?a ?b ?c )>> ?p ?o }
        """)


def test_join_reordering_avoids_cross_join(spark, graph):
    """Patterns written disconnected-first used to cross join; the greedy
    reorder connects through shared variables instead."""
    q = """
        PREFIX schema: <https://schema.org/>
        SELECT ?an ?bn WHERE {
            ?a schema:name ?an .
            ?b schema:name ?bn .
            ?a schema:worksFor ?b .
        }
    """
    df = query(graph, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    got = {(r["an"], r["bn"]) for r in df.collect()}
    assert got == {("Alice", "Acme"), ("Bob", "Globex")}


def test_genuinely_disconnected_patterns_still_cross(spark, graph):
    # semantically required cross join survives the reorder
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p ?o WHERE {
            ?p a schema:Person .
            ?o a schema:Organization .
        }
    """)
    assert df.count() == 4


# ---------------------------------------------------------------------------
# GRAPH patterns (named graphs over a quads frame)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def quads(spark):
    qcols = COLS + ", graph string"
    rows = [
        # default graph: type assertions
        ("http://x/alice", RDF_TYPE, SCHEMA + "Person", "iri", None, None,
         None),
        ("http://x/bob", RDF_TYPE, SCHEMA + "Person", "iri", None, None,
         None),
        # named graph g1: alice's facts
        ("http://x/alice", SCHEMA + "name", "Alice", "literal", None, None,
         "http://g/1"),
        ("http://x/alice", SCHEMA + "worksFor", "http://x/acme", "iri",
         None, None, "http://g/1"),
        # named graph g2: bob's facts
        ("http://x/bob", SCHEMA + "name", "Bob", "literal", None, None,
         "http://g/2"),
    ]
    return spark.createDataFrame(rows, qcols).cache()


def test_graph_variable_binds_and_joins(spark, quads):
    df = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?g ?n WHERE {
            ?p a schema:Person .
            GRAPH ?g { ?p schema:name ?n }
        }
    """)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("http://g/1", "Alice"), ("http://g/2", "Bob")]


def test_graph_constant_scopes_patterns(spark, quads):
    df = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE { GRAPH <http://g/1> { ?p schema:name ?n } }
    """)
    assert [r["n"] for r in df.collect()] == ["Alice"]


def test_top_level_patterns_match_default_graph_only(spark, quads):
    # schema:name lives only in named graphs → no default-graph match
    df = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE { ?p schema:name ?n }
    """)
    assert df.count() == 0


def test_graph_same_var_requires_same_graph(spark, quads):
    # name and worksFor co-occur only in g1
    df = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?g ?p WHERE {
            GRAPH ?g { ?p schema:name ?n . ?p schema:worksFor ?o }
        }
    """)
    assert [tuple(r) for r in df.collect()] == [
        ("http://g/1", "http://x/alice")]


def test_graph_requires_quads(spark, graph):
    with pytest.raises(SparqlError, match="quads"):
        query(graph, """
            SELECT ?g WHERE { GRAPH ?g { ?s ?p ?o } }
        """)


def test_graph_var_path_closure_per_graph(spark):
    """Property paths inside GRAPH ?var: each named graph's closure is
    computed independently — a chain split across two graphs must NOT
    connect through the graph boundary."""
    qcols = COLS + ", graph string"
    rows = [
        # g1: a→b→c chain
        ("http://x/a", "http://p/n", "http://x/b", "iri", None, None,
         "http://g/1"),
        ("http://x/b", "http://p/n", "http://x/c", "iri", None, None,
         "http://g/1"),
        # g2: only b→d — reachable from b in g2, NOT from a
        ("http://x/b", "http://p/n", "http://x/d", "iri", None, None,
         "http://g/2"),
    ]
    g = spark.createDataFrame(rows, qcols)
    df = query(g, """
        SELECT ?g ?x WHERE {
            GRAPH ?g { <http://x/a> <http://p/n>+ ?x }
        }
    """)
    got = sorted((r["g"], r["x"]) for r in df.collect())
    assert got == [("http://g/1", "http://x/b"), ("http://g/1", "http://x/c")]
    # sequence paths scope per graph too
    df2 = query(g, """
        SELECT ?g ?x WHERE {
            GRAPH ?g { <http://x/a> <http://p/n>/<http://p/n> ?x }
        }
    """)
    assert [(r["g"], r["x"]) for r in df2.collect()] == [
        ("http://g/1", "http://x/c")]


# ---------------------------------------------------------------------------
# DESCRIBE query form
# ---------------------------------------------------------------------------


def test_describe_constant_iri(spark, graph):
    from trident_spark.query.sparql import describe

    out = describe(graph, "DESCRIBE <http://x/acme>")
    got = {(r["pred"], r["obj_lexical"]) for r in out.collect()}
    assert got == {(RDF_TYPE, SCHEMA + "Organization"),
                   (SCHEMA + "name", "Acme")}


def test_describe_variable_with_where(spark, graph):
    from trident_spark.query.sparql import describe

    out = describe(graph, """
        PREFIX schema: <https://schema.org/>
        DESCRIBE ?o WHERE { ?p schema:worksFor ?o . ?p schema:name "Alice" }
    """)
    got = {(r["subj"], r["pred"], r["obj_lexical"]) for r in out.collect()}
    assert got == {
        ("http://x/acme", RDF_TYPE, SCHEMA + "Organization"),
        ("http://x/acme", SCHEMA + "name", "Acme"),
    }


def test_describe_mixed_and_errors(spark, graph):
    from trident_spark.query.sparql import describe

    out = describe(graph, """
        PREFIX schema: <https://schema.org/>
        DESCRIBE <http://x/globex> ?p WHERE { ?p schema:name "Alice" }
    """)
    subjects = {r["subj"] for r in out.collect()}
    assert subjects == {"http://x/globex", "http://x/alice"}
    with pytest.raises(SparqlError, match="WHERE"):
        describe(graph, "DESCRIBE ?x")
    with pytest.raises(SparqlError, match="at least one"):
        describe(graph, "DESCRIBE WHERE { ?s ?p ?o }")


# ---------------------------------------------------------------------------
# LANG() / DATATYPE() filters (literal metadata carried alongside bindings)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tagged(spark):
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("http://x/a", SCHEMA + "label", "color", "literal", None, "en"),
        ("http://x/a", SCHEMA + "label", "couleur", "literal", None, "fr"),
        ("http://x/a", SCHEMA + "label", "plain", "literal", None, None),
        ("http://x/a", SCHEMA + "count", "42", "literal", XSD_INT, None),
    ]
    return spark.createDataFrame(rows, COLS).cache()


def test_lang_filter(spark, tagged):
    df = query(tagged, """
        PREFIX schema: <https://schema.org/>
        SELECT ?l WHERE {
            ?s schema:label ?l .
            FILTER(LANG(?l) = "fr")
        }
    """)
    assert [r["l"] for r in df.collect()] == ["couleur"]


def test_lang_empty_for_plain_literal(spark, tagged):
    df = query(tagged, """
        PREFIX schema: <https://schema.org/>
        SELECT ?l WHERE { ?s schema:label ?l . FILTER(LANG(?l) = "") }
    """)
    assert [r["l"] for r in df.collect()] == ["plain"]


def test_datatype_filter(spark, tagged):
    df = query(tagged, """
        PREFIX schema: <https://schema.org/>
        SELECT ?v WHERE {
            ?s schema:count ?v .
            FILTER(DATATYPE(?v) = "http://www.w3.org/2001/XMLSchema#integer")
        }
    """)
    assert [r["v"] for r in df.collect()] == ["42"]


def test_datatype_defaults(spark, tagged):
    # plain literal → xsd:string; lang-tagged → rdf:langString
    df = query(tagged, """
        PREFIX schema: <https://schema.org/>
        SELECT ?l WHERE {
            ?s schema:label ?l .
            FILTER(DATATYPE(?l) =
                   "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")
        }
    """)
    assert sorted(r["l"] for r in df.collect()) == ["color", "couleur"]


def test_isiri_isliteral_filters(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?o WHERE { <http://x/alice> ?p ?o . FILTER(ISIRI(?o)) }
    """)
    assert sorted(r["o"] for r in df.collect()) == [
        "http://x/acme", SCHEMA + "Person"]
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?o WHERE { <http://x/alice> ?p ?o . FILTER(ISLITERAL(?o)) }
    """)
    assert [r["o"] for r in df.collect()] == ["Alice"]


def test_isblank_filter(spark):
    rows = [
        ("http://x/s", SCHEMA + "p", "_:b1", "blank", None, None),
        ("http://x/s", SCHEMA + "p", "plain", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """
        PREFIX schema: <https://schema.org/>
        SELECT ?o WHERE { ?s schema:p ?o . FILTER(ISBLANK(?o)) }
    """)
    assert [r["o"] for r in df.collect()] == ["_:b1"]


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update (immutable form: returns the new graph)
# ---------------------------------------------------------------------------


def test_update_insert_and_delete_data(spark, graph):
    from trident_spark.query.sparql import update

    g2 = update(graph, """
        PREFIX schema: <https://schema.org/>
        INSERT DATA { <http://x/dave> a schema:Person .
                      <http://x/dave> schema:name "Dave" }
    """)
    assert g2.count() == graph.count() + 2
    assert g2.where("subj = 'http://x/dave'").count() == 2
    # input frame untouched (immutable semantics)
    assert graph.where("subj = 'http://x/dave'").count() == 0

    g3 = update(graph, """
        PREFIX schema: <https://schema.org/>
        DELETE DATA { <http://x/alice> schema:name "Alice" }
    """)
    assert g3.count() == graph.count() - 1
    assert g3.where("obj_lexical = 'Alice'").count() == 0


def test_update_delete_where(spark, graph):
    from trident_spark.query.sparql import update

    g2 = update(graph, """
        PREFIX schema: <https://schema.org/>
        DELETE WHERE { ?p schema:worksFor ?o }
    """)
    assert g2.where(f"pred = '{SCHEMA}worksFor'").count() == 0
    assert g2.count() == graph.count() - 2


def test_update_delete_insert_where(spark, graph):
    from trident_spark.query.sparql import update

    g2 = update(graph, """
        PREFIX schema: <https://schema.org/>
        DELETE { ?p schema:worksFor ?o }
        INSERT { ?o schema:employs ?p }
        WHERE  { ?p schema:worksFor ?o }
    """)
    employs = {(r["subj"], r["obj_lexical"], r["obj_kind"]) for r in
               g2.where(f"pred = '{SCHEMA}employs'").collect()}
    assert employs == {("http://x/acme", "http://x/alice", "iri"),
                       ("http://x/globex", "http://x/bob", "iri")}
    assert g2.where(f"pred = '{SCHEMA}worksFor'").count() == 0


def test_update_rejects_malformed(spark, graph):
    from trident_spark.query.sparql import update

    with pytest.raises(SparqlError, match="variables"):
        update(graph, "INSERT DATA { ?x <http://p> <http://o> }")
    with pytest.raises(SparqlError, match="WHERE"):
        update(graph, "INSERT { <http://a> <http://b> <http://c> }")


def test_property_path_zero_or_one(spark, chain):
    df = query(chain, """
        SELECT ?x WHERE { <http://n/2> <http://p/next>? ?x . } ORDER BY ?x
    """)
    assert [r["x"] for r in df.collect()] == ["http://n/2", "http://n/3"]


def test_group_concat_and_sample(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?t (GROUP_CONCAT(?n) AS ?names) (SAMPLE(?n) AS ?one)
        WHERE { ?s a ?t ; schema:name ?n } GROUP BY ?t ORDER BY ?t
    """)
    got = [(r["t"], r["names"], r["one"]) for r in df.collect()]
    assert got == [
        (SCHEMA + "Organization", "Acme Globex", "Acme"),
        (SCHEMA + "Person", "Alice Bob", "Alice"),
    ]


def test_select_reduced(spark, graph):
    df = query(graph.union(graph), """
        PREFIX schema: <https://schema.org/>
        SELECT REDUCED ?t WHERE { ?s a ?t }
    """)
    assert sorted(r["t"] for r in df.collect()) == [
        SCHEMA + "Organization", SCHEMA + "Person"]


def test_negated_property_set(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?o WHERE { <http://x/alice> !(schema:name|schema:worksFor) ?o }
    """)
    assert [r["o"] for r in df.collect()] == [SCHEMA + "Person"]
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?o WHERE { <http://x/acme> !schema:name ?o }
    """)
    assert [r["o"] for r in df.collect()] == [SCHEMA + "Organization"]


# ---------------------------------------------------------------------------
# graph-scoped Update: update() over a quads frame
# ---------------------------------------------------------------------------


def _q(rows):
    return {tuple(r) for r in rows}


def test_update_quads_clear_and_drop(spark, quads):
    from trident_spark.query.sparql import update

    out = update(quads, "CLEAR GRAPH <http://g/1>")
    assert _q(out.select("graph").distinct().collect()) == {
        (None,), ("http://g/2",)}
    out2 = update(quads, "DROP DEFAULT")
    assert out2.where(out2.graph.isNull()).count() == 0
    assert update(quads, "DROP NAMED").count() == 2
    assert update(quads, "DROP ALL").count() == 0
    # CREATE is a no-op in the quads model
    assert update(
        quads, "CREATE GRAPH <http://g/9>").count() == quads.count()


def test_update_quads_move_copy_add(spark, quads):
    from trident_spark.query.sparql import update

    moved = update(quads, "MOVE GRAPH <http://g/1> TO GRAPH <http://g/2>")
    assert moved.where(moved.graph == "http://g/1").count() == 0
    g2 = _q(moved.where(moved.graph == "http://g/2")
            .select("subj", "pred").collect())
    # g2's previous content was dropped; only g1's rows live there now
    assert ("http://x/alice", SCHEMA + "name") in g2
    assert ("http://x/bob", SCHEMA + "name") not in g2

    copied = update(quads, "COPY DEFAULT TO GRAPH <http://g/2>")
    assert copied.where(copied.graph.isNull()).count() == 2  # source kept
    assert _q(copied.where(copied.graph == "http://g/2")
              .select("pred").collect()) == {(RDF_TYPE,)}

    added = update(quads, "ADD GRAPH <http://g/1> TO GRAPH <http://g/2>")
    g2 = added.where(added.graph == "http://g/2")
    assert g2.count() == quads.where(quads.graph == "http://g/1").count() \
        + quads.where(quads.graph == "http://g/2").count()


def test_update_quads_insert_delete_data_graph_blocks(spark, quads):
    from trident_spark.query.sparql import update

    out = update(quads, """
        INSERT DATA {
            <http://x/new> <http://p/q> "v" .
            GRAPH <http://g/1> { <http://x/new> <http://p/q> "w" . }
        }
    """)
    got = _q(out.select("subj", "obj_lexical", "graph").collect())
    assert ("http://x/new", "v", None) in got
    assert ("http://x/new", "w", "http://g/1") in got

    back = update(out, """
        DELETE DATA {
            <http://x/new> <http://p/q> "v" .
            GRAPH <http://g/1> { <http://x/new> <http://p/q> "w" . }
        }
    """)
    assert _q(back.select(*quads.columns).collect()) == _q(quads.collect())


def test_update_quads_with_template_form(spark, quads):
    from trident_spark.query.sparql import update

    out = update(quads, """
        PREFIX schema: <https://schema.org/>
        WITH <http://g/1>
        DELETE { ?s schema:name ?n }
        INSERT { ?s schema:label ?n }
        WHERE  { ?s schema:name ?n }
    """)
    g1 = _q(out.where(out.graph == "http://g/1")
            .select("pred", "obj_lexical").collect())
    assert (SCHEMA + "label", "Alice") in g1
    assert (SCHEMA + "name", "Alice") not in g1
    # other graphs untouched
    assert _q(out.where(out.graph == "http://g/2")
              .select("pred", "obj_lexical").collect()) \
        == _q(quads.where(quads.graph == "http://g/2")
              .select("pred", "obj_lexical").collect())


def test_update_quads_graph_template_blocks_and_using(spark, quads):
    from trident_spark.query.sparql import update

    # USING makes g2 the default graph for WHERE; the template writes the
    # match into a fresh named graph
    out = update(quads, """
        PREFIX schema: <https://schema.org/>
        INSERT { GRAPH <http://g/audit> { ?s schema:seen "yes" } }
        USING <http://g/2>
        WHERE { ?s schema:name ?n }
    """)
    audit = _q(out.where(out.graph == "http://g/audit")
               .select("subj", "obj_lexical").collect())
    assert audit == {("http://x/bob", "yes")}


def test_update_quads_delete_where_default_graph(spark, quads):
    from trident_spark.query.sparql import update

    out = update(quads, "DELETE WHERE { ?s a <https://schema.org/Person> }")
    assert out.where(out.graph.isNull()).count() == 0
    assert out.count() == quads.count() - 2


def test_update_quads_using_named(spark, quads):
    """USING NAMED defines the named-graph set for GRAPH patterns in the
    WHERE clause; graphs outside the list are invisible."""
    from trident_spark.query.sparql import update

    out = update(quads, """
        PREFIX schema: <https://schema.org/>
        INSERT { GRAPH <http://g/seen> { ?s schema:seenIn ?g } }
        USING NAMED <http://g/1>
        WHERE { GRAPH ?g { ?s schema:name ?n } }
    """)
    seen = _q(out.where(out.graph == "http://g/seen")
              .select("subj", "obj_lexical").collect())
    # only g1 is a named graph of the dataset; g2's bob never matches
    assert seen == {("http://x/alice", "http://g/1")}


def test_aggregate_expression_argument(spark):
    rows = [
        ("http://x/o1", "http://p/price", "10", "literal", None, None),
        ("http://x/o1", "http://p/qty", "3", "literal", None, None),
        ("http://x/o2", "http://p/price", "4", "literal", None, None),
        ("http://x/o2", "http://p/qty", "5", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """
        SELECT (SUM(?p * ?q) AS ?total) (AVG(?p + 0) AS ?avgp) WHERE {
            ?o <http://p/price> ?p ; <http://p/qty> ?q .
        }
    """)
    r = df.collect()[0]
    assert r["total"] == 50.0 and r["avgp"] == 7.0


def test_aggregate_expression_group_by_having(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?t (MAX(STRLEN(?n)) AS ?longest) WHERE {
            ?s a ?t ; schema:name ?n .
        } GROUP BY ?t HAVING(MAX(STRLEN(?n)) > 5)
        ORDER BY ?t
    """)
    assert [(r["t"], r["longest"]) for r in df.collect()] == [
        (SCHEMA + "Organization", 6)]  # Globex=6; Alice=5/Bob=3 filtered


def test_regex_flags(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?s schema:name ?n . FILTER(REGEX(?n, "^ali", "i"))
        }
    """)
    assert [r["n"] for r in df.collect()] == ["Alice"]
    df2 = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?s schema:name ?n . FILTER(REGEX(?n, "^ali"))
        }
    """)
    assert df2.count() == 0
    with pytest.raises(SparqlError, match="REGEX flags"):
        query(graph, """
            PREFIX schema: <https://schema.org/>
            SELECT ?n WHERE { ?s schema:name ?n .
                              FILTER(REGEX(?n, "a", ?n)) }
        """)


# ---------------------------------------------------------------------------
# warehouse path: query_encoded over the persisted dictionary tables
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def encoded_kg(spark):
    from trident_spark.pipeline import build_kg
    from trident_spark.pipeline.pages import pages_df

    result = build_kg(pages_df(spark, 120), alias_dict=None)
    return (result.triples.localCheckpoint(eager=True),
            result.terms.localCheckpoint(eager=True),
            result.skolemized.select(
                "subj", "pred", "obj_lexical", "obj_kind",
                "obj_datatype", "obj_lang").localCheckpoint(eager=True))


def _differential(lexical, edges, terms, sparql, raises=False):
    """Both engines must return the same bag of rows (a duplicate row on
    either side fails).  ``raises=True``: both must raise SparqlError
    instead; ``raises=None``: either outcome, as long as both agree."""
    from collections import Counter

    from trident_spark.query.sparql import query, query_encoded

    def bag(run):
        try:
            return Counter(tuple(r) for r in run().collect())
        except SparqlError:
            return SparqlError

    want = bag(lambda: query(lexical, sparql))
    got = bag(lambda: query_encoded(edges, terms, sparql))
    assert got == want, (sparql, got, want)
    if raises is not None:
        assert (want is SparqlError) == raises, (sparql, want)
    return got


def test_differential_simple_literal_matches_both_stored_forms(spark):
    """RDF 1.1: "x" and "x"^^xsd:string are one term, with one term id,
    which the warehouse stores once; a constant in either form matches
    both rows."""
    from trident_spark.pipeline.kg import dedup_triples, encode_triples

    rows = [("http://a/1", None, "test", "http://x/s", "http://p/n", "x",
             "literal", XSD + "string", None),
            ("http://a/1", None, "test", "http://x/t", "http://p/n", "x",
             "literal", None, None)]
    lexical = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, source string, subj string, "
              "pred string, obj_lexical string, obj_kind string, "
              "obj_datatype string, obj_lang string")
    terms, edges = encode_triples(lexical)
    edges = dedup_triples(edges)
    for const in ('"x"', f'"x"^^<{XSD}string>'):
        got = _differential(lexical, edges, terms,
                            f"SELECT ?s WHERE {{ ?s <http://p/n> {const} }}")
        assert sorted(got) == [("http://x/s",), ("http://x/t",)], const


_K, _L, _AGE = "http://p/k", "http://p/l", "http://p/age"
_XA, _XB, _XC = "http://x/a", "http://x/b", "http://x/c"
_JOIN = f"SELECT ?s ?t WHERE {{ ?s <{_K}> ?o . ?t <{_L}> ?o }}"
_AGES = [(_XA, _AGE, "42", "literal",
          "http://www.w3.org/2001/XMLSchema#integer", None),
         (_XB, _AGE, "42", "literal",
          "http://www.w3.org/2001/XMLSchema#long", None)]

# RDF 1.1 Concepts §3.3: a simple literal is an xsd:string literal and a
# language tag compares case-insensitively, so a variable joins either
# spelling of one term; a bare number is its SPARQL 1.1 §4.1.2 term (an
# xsd:integer), in a pattern as in VALUES.  (rows, query, answer)
_ONE_ID_CASES = {
    "xsd_string_join": (
        [(_XA, _K, "x", "literal", None, None),
         (_XB, _K, "x", "literal",
          "http://www.w3.org/2001/XMLSchema#string", None),
         (_XC, _L, "x", "literal",
          "http://www.w3.org/2001/XMLSchema#string", None)],
        _JOIN, [(_XA, _XC), (_XB, _XC)]),
    "tag_case_join": (
        [(_XA, _K, "x", "literal", None, "en"),
         (_XC, _L, "x", "literal", None, "EN")], _JOIN, [(_XA, _XC)]),
    "same_term": (
        [(_XA, _K, "x", "literal", None, "en"),
         (_XC, _L, "x", "literal", None, "EN"),
         (_XB, _L, "x", "literal", None, None)],
        f"SELECT ?s ?t WHERE {{ ?s <{_K}> ?o . ?t <{_L}> ?p "
        "FILTER(sameTerm(?o, ?p)) }", [(_XA, _XC)]),
    "bare_number": (_AGES, f"SELECT ?s WHERE {{ ?s <{_AGE}> 42 }}",
                    [(_XA,)]),
    "bare_number_values": (
        _AGES, f"SELECT ?s WHERE {{ VALUES ?n {{ 42 }} ?s <{_AGE}> ?n }}",
        [(_XA,)]),
    # DATATYPE and LANG of a term that is not a literal leave the BIND
    # unbound (SPARQL 1.1 §17.4.2.6-7)
    "datatype_of_non_literal": (
        [(_XA, _K, _XB, "iri", None, None),
         (_XA, _K, "_:b1", "blank", None, None),
         (_XA, _K, "x", "literal", None, "en")],
        f"SELECT ?o ?dt ?l WHERE {{ <{_XA}> <{_K}> ?o "
        "BIND(DATATYPE(?o) AS ?dt) BIND(LANG(?o) AS ?l) }",
        [(_XB, None, None), ("_:b1", None, None),
         ("x", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
          "en")]),
}


@pytest.mark.parametrize("case", list(_ONE_ID_CASES))
def test_differential_one_term_one_id(spark, case):
    """Each RDF term has one id, whatever its spelling: both engines join
    and compare the spellings of one term as that term."""
    from collections import Counter

    rows, sparql, want = _ONE_ID_CASES[case]
    lexical, edges, terms = _encoded(spark, rows)
    assert _differential(lexical, edges, terms, sparql) == Counter(want)


def test_differential_bags_over_duplicate_captures(spark):
    """The lexical frame holds triples from two captures; the warehouse
    holds their dedup_triples set.  A projection that drops a variable
    keeps real duplicates (two friends with one name) and must not gain
    any from the repeated captures, on either engine."""
    from collections import Counter

    from trident_spark.pipeline.kg import dedup_triples, encode_triples

    knows, name = SCHEMA + "knows", SCHEMA + "name"
    facts = [
        ("http://x/ann", RDF_TYPE, SCHEMA + "Person", "iri"),
        ("http://x/ann", knows, "http://x/bob", "iri"),
        ("http://x/ann", knows, "http://x/rob", "iri"),
        ("http://x/ann", knows, "http://x/cy", "iri"),
        ("http://x/bob", name, "Bob", "literal"),
        ("http://x/rob", name, "Bob", "literal"),
        ("http://x/eve", RDF_TYPE, SCHEMA + "Person", "iri"),
    ]
    rows = [(url, None, "test", s, p, o, kind, None, None)
            for url in ("http://a/1", "http://a/2")
            for s, p, o, kind in facts]
    lexical = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, source string, subj string, "
              "pred string, obj_lexical string, obj_kind string, "
              "obj_datatype string, obj_lang string")
    terms, edges = encode_triples(lexical)
    got = _differential(lexical, dedup_triples(edges), terms, _PFX + """
        SELECT ?p ?n WHERE {
            ?p a schema:Person . ?p schema:knows ?f .
            OPTIONAL { ?f schema:name ?n }
        }""")
    assert got == Counter({("http://x/ann", "Bob"): 2,
                           ("http://x/ann", None): 1})


def _encoded(spark, rows):
    """(lexical frame, edges, terms) of lexical triple rows."""
    from pyspark.sql import functions as F

    from trident_spark.pipeline.kg import dedup_triples, encode_triples

    lexical = spark.createDataFrame(rows, COLS)
    terms, edges = encode_triples(lexical.select(
        "*", F.lit("http://a/1").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("test").alias("source")))
    return lexical, dedup_triples(edges), terms


# an IRI/literal collision: "http://x/b" is the literal object of <ref>
# and the IRI subject of <name>.  A solution binds ?o to one RDF term, so
# no row joins the two, whatever FILTER the group holds or where it sits.
_COLLISION = [
    ("http://x/a", "http://p/ref", "http://x/b", "literal", None, None),
    ("http://x/b", "http://p/name", "B", "literal", None, None),
]


@pytest.mark.parametrize("where", [
    "?s <http://p/ref> ?o . ?o <http://p/name> ?n . FILTER(!isIRI(?o))",
    '?s <http://p/ref> ?o . FILTER(STR(?o) != "") ?o <http://p/name> ?n',
], ids=["isiri", "filter_between"])
def test_differential_collision_joins_no_term(spark, where):
    from collections import Counter

    lexical, edges, terms = _encoded(spark, _COLLISION)
    got = _differential(lexical, edges, terms,
                        f"SELECT ?n WHERE {{ {where} }}")
    assert got == Counter()


X = "http://x/"
# the literal "http://x/b" is <a>'s x:p object; the IRI <http://x/b> is a
# subject.  A variable binds one of the two terms, never both.
_TERMS = [
    (X + "a", X + "p", X + "b", "literal", None, None),
    (X + "b", X + "p", X + "c", "iri", None, None),
    (X + "a", X + "q", X + "b", "iri", None, None),
    (X + "b", X + "name", "B", "literal", None, "en"),
    (X + "c", X + "name", "C", "literal", None, None),
]
_A, _B, _C = X + "a", X + "b", X + "c"

# (query, its SPARQL answer over _TERMS); _B is the lexical form of both
# the literal and the IRI
_TERM_CASES = {
    "optional": ("SELECT ?s ?n WHERE { ?s x:p ?o OPTIONAL { ?o x:name ?n } }",
                 [(_A, None), (_B, "C")]),
    "nested": ("SELECT ?s ?n WHERE { ?s x:p ?o { ?o x:name ?n } }",
               [(_B, "C")]),
    "union_branch": ("SELECT ?s ?n WHERE { ?s x:p ?o "
                     "{ ?o x:name ?n } UNION { ?o x:none ?n } }",
                     [(_B, "C")]),
    # the literal has no out-edge
    "plus": ("SELECT ?o ?lit WHERE { x:a x:p+ ?o "
             "BIND(isLiteral(?o) AS ?lit) }", [(_B, True)]),
    "seq": ("SELECT ?o WHERE { x:a x:p/x:p ?o }", []),
    "bind_isiri": ("SELECT ?o ?k WHERE { ?s x:p ?o BIND(isIRI(?o) AS ?k) }",
                   [(_B, False), (_C, True)]),
    "lang_projection": ("SELECT ?n (LANG(?n) AS ?l) WHERE { ?s x:name ?n }",
                        [("B", "en"), ("C", "")]),
    "optional_isiri": ("SELECT ?s ?o WHERE { ?s x:q ?o "
                       "OPTIONAL { ?x x:p ?o } FILTER(isIRI(?o)) }",
                       [(_A, _B)]),
    "path_isliteral": ("SELECT ?o WHERE { x:a x:p* ?o FILTER(isLiteral(?o)) }",
                       [(_B,)]),
    "subselect_isiri": ("SELECT ?o WHERE { { SELECT ?o WHERE { ?s x:p ?o } } "
                        "FILTER(isIRI(?o)) }", [(_C,)]),
    "values_isiri": ('SELECT ?o WHERE { VALUES ?o { x:b "v" } '
                     "FILTER(isIRI(?o)) }", [(_B,)]),
    "values_join": ("SELECT ?s ?p WHERE { VALUES ?o { x:b } ?s ?p ?o }",
                    [(_A, X + "q")]),
    # two patterns bind ?n: one term, so LANG(?n) is well defined
    "lang_ambiguous": ("SELECT ?s ?t WHERE { ?s x:name ?n . ?t x:name ?n "
                       'FILTER(LANG(?n) = "") }', [(_C, _C)]),
}


@pytest.mark.parametrize("case", list(_TERM_CASES))
def test_differential_variable_binds_one_term(spark, case):
    """Every group element binds whole terms: the OPTIONAL, nested-group
    and UNION joins, paths, BIND, subselects and VALUES keep the literal
    "http://x/b" apart from the IRI, and a term-kind function reads any
    variable's kind, on both engines."""
    from collections import Counter

    sparql, want = _TERM_CASES[case]
    lexical, edges, terms = _encoded(spark, _TERMS)
    got = _differential(lexical, edges, terms,
                        f"PREFIX x: <{X}> {sparql}")
    assert got == Counter(want), case


def test_construct_instantiates_the_bound_term(spark):
    """A template variable instantiates as the term its solution binds,
    whatever element binds it: the literal "http://x/b" stays a literal
    beside the IRI <http://x/b>."""
    from trident_spark.query.sparql import construct

    lexical = spark.createDataFrame(_TERMS, COLS)
    lit = (X + "b", "literal")
    for where, want in (
            ("x:a x:p* ?o", {(X + "a", "iri"), lit}),
            ('VALUES ?o { "http://x/b" }', {lit}),
            ("{ SELECT ?o WHERE { x:a x:p ?o } }", {lit}),
            ("?s x:q ?o OPTIONAL { ?x x:p ?o } FILTER(isIRI(?o))",
             {(X + "b", "iri")})):
        rows = construct(lexical, f"PREFIX x: <{X}> CONSTRUCT "
                         f"{{ x:a x:r ?o }} WHERE {{ {where} }}").collect()
        assert {(r.obj_lexical, r.obj_kind) for r in rows} == want, where


def test_differential_repeated_variable_is_one_term(spark):
    """``?s <self> ?s`` binds one term: <c>'s literal self-reference does
    not match, and ?s joins <q>'s IRI object, not its literal twin."""
    from collections import Counter

    lexical, edges, terms = _encoded(spark, [
        ("http://x/a", "http://p/self", "http://x/a", "iri", None, None),
        ("http://x/c", "http://p/self", "http://x/c", "literal", None, None),
        ("http://x/t", "http://p/q", "http://x/a", "literal", None, None),
        ("http://x/u", "http://p/q", "http://x/a", "iri", None, None),
        ("http://x/v", "http://p/q", "http://x/c", "iri", None, None),
    ])
    got = _differential(lexical, edges, terms, """
        SELECT ?t WHERE { ?s <http://p/self> ?s . ?t <http://p/q> ?s }""")
    assert got == Counter({("http://x/u",): 1})


def test_differential_blank_subject_joins_blank_object(spark):
    """An unskolemized ``_:b1`` is one blank node in subject and object
    position, on the warehouse as in its decoded graph."""
    from collections import Counter

    from trident_spark.pipeline.kg import decode_triples

    _, edges, terms = _encoded(spark, [
        ("http://x/a", "http://p/k", "_:b1", "blank", None, None),
        ("_:b1", "http://p/n", "B", "literal", None, None),
    ])
    got = _differential(decode_triples(edges, terms), edges, terms, """
        SELECT ?n WHERE { <http://x/a> <http://p/k> ?b . ?b <http://p/n> ?n }""")
    assert got == Counter({("B",): 1})


def test_graph_block_joins_terms(spark):
    """Patterns in one ``GRAPH ?g`` block join on terms: the literal
    "http://x/b" does not reach <http://x/b>'s name, the IRI does."""
    link = ("http://x/a", "http://p/link", "http://x/b", "iri", None, None)
    quads = spark.createDataFrame(
        [(*r, "http://g/1") for r in [*_COLLISION, link]],
        COLS + ", graph string")
    for pred, want in (("ref", []), ("link", [("http://g/1", "B")])):
        df = query(quads, f"""
            SELECT ?g ?n WHERE {{ GRAPH ?g {{
                ?s <http://p/{pred}> ?o . ?o <http://p/name> ?n }} }}""")
        assert [tuple(r) for r in df.collect()] == want, pred


def test_query_encoded_matches_lexical_engine(spark, encoded_kg):
    edges, terms, lexical = encoded_kg
    got = _differential(lexical, edges, terms, """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?p ?n WHERE {
            ?p a schema:Person ; schema:name ?n .
        }
    """)
    assert got  # non-empty


def test_query_encoded_filter_and_agg(spark, encoded_kg):
    edges, terms, lexical = encoded_kg
    _differential(lexical, edges, terms, """
        PREFIX schema: <https://schema.org/>
        SELECT ?t (COUNT(?s) AS ?n) WHERE {
            ?s a ?t . FILTER(CONTAINS(STR(?t), "schema.org"))
        } GROUP BY ?t
    """)


def test_query_encoded_plan_reads_only_id_columns(spark, encoded_kg):
    from trident_spark.query.sparql import query_encoded

    edges, terms, _ = encoded_kg
    df = query_encoded(edges, terms, """
        PREFIX schema: <https://schema.org/>
        SELECT ?p WHERE { ?p a schema:Person ; schema:name ?n . }
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # id-typed join keys, no lexical columns in the edge scans
    assert "_tid_" in plan
    assert df.count() > 0


def test_query_encoded_two_hop_plan_has_no_shuffle(spark, encoded_kg):
    """The warehouse edge table is a set, so pattern scans are not
    re-deduplicated: a selective two-pattern BGP is scans and broadcast
    hash joins, with no hash shuffle."""
    from trident_spark.query.sparql import query_encoded

    edges, terms, lexical = encoded_kg
    node = lexical.where(f"pred = '{SCHEMA}worksFor'").first().subj
    df = query_encoded(edges, terms, _PFX + f"""
        SELECT ?o ?n WHERE {{ <{node}> schema:worksFor ?o .
                              ?o schema:name ?n }}""")
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_lexical_id_run_scans_each_pattern_once(spark, encoded_kg):
    """A lexical id run carries each projected variable's value from the
    scan that binds it: no pattern is scanned a second time to decode."""
    edges, terms, lexical = encoded_kg
    df = query(lexical, _PFX + """
        SELECT ?o ?n WHERE { ?p schema:worksFor ?o . ?o schema:name ?n }""")
    assert df.collect()
    # the plan before adaptive re-planning: one scan per pattern
    plan = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[-1]
    assert plan.count("Scan ExistingRDD") == 2, plan


# the four warehouse templates of the kgbench query deck, over the
# fixture's predicates ({node} is a person, {org} its employer)
_DECK_SHAPES = {
    "point": "SELECT ?p ?o WHERE { <{node}> ?p ?o }",
    "two_hop": "SELECT ?o ?n WHERE { <{node}> schema:worksFor ?o . "
               "?o schema:name ?n }",
    "agg": "SELECT ?t (COUNT(?s) AS ?c) WHERE { ?s schema:worksFor <{org}> "
           ". ?s a ?t } GROUP BY ?t",
    "optional_filter": "SELECT ?o ?n ?u WHERE { <{node}> schema:worksFor ?o "
                       ". ?o schema:name ?n . OPTIONAL { ?o schema:url ?u } "
                       'FILTER(lang(?n) = "en" || regex(?n, "^[A-Z]")) }',
}


def _deck_query(lexical, shape):
    row = lexical.where(f"pred = '{SCHEMA}worksFor'").orderBy("subj").first()
    return _PFX + shape.replace("{node}", row.subj).replace(
        "{org}", row.obj_lexical)


# the differential shapes query() rejects too
_BOTH_RAISE = {"optional_first", "optional_disjoint"}


@pytest.mark.parametrize("sparql", [
    *_DECK_SHAPES.values(),
    "SELECT ?s ?n WHERE { { ?s a schema:Person } UNION "
    "{ ?s a schema:Organization } ?s schema:name ?n }",
    "SELECT ?s WHERE { ?s a schema:Person MINUS { ?s schema:jobTitle ?j } }",
    "SELECT ?s WHERE { ?s a schema:Person "
    "FILTER EXISTS { ?s schema:homeLocation ?c } }",
    "SELECT ?s ?t WHERE { VALUES ?t { schema:Person schema:Organization } "
    "?s a ?t }",
    "SELECT ?s ?k WHERE { ?s schema:name ?n BIND(STRLEN(?n) AS ?k) }",
    "SELECT ?o ?c WHERE { ?o a schema:Organization { SELECT ?o "
    "(COUNT(?s) AS ?c) WHERE { ?s schema:worksFor ?o } GROUP BY ?o } }",
    "SELECT ?x WHERE { <{node}> (schema:worksFor|schema:url)+ ?x }",
    "SELECT ?s ?n WHERE { ?s a schema:Person OPTIONAL { ?s schema:name ?n "
    "FILTER(STRLEN(?n) > 9) } }",
    "SELECT ?s ?o ?u WHERE { ?s a schema:Person "
    "OPTIONAL { ?s schema:worksFor ?o } OPTIONAL { ?o schema:url ?u } }",
    # a required pattern after an OPTIONAL, sharing the ?u it introduces
    "SELECT ?s ?u WHERE { ?s a schema:Organization "
    "OPTIONAL { ?s schema:url ?u } ?s schema:url ?u }",
    "ASK { <{node}> schema:worksFor ?o }",
    "ASK { ?s a schema:Person FILTER NOT EXISTS { ?s schema:name ?n } }",
    # a repeated variable reads the decoded graph
    "SELECT ?s WHERE { ?s schema:url ?s }",
    # literal constants: typed with no match, and a bare number
    'SELECT ?s WHERE { ?s schema:name "5"^^<http://dt> }',
    "SELECT ?s WHERE { ?s schema:name 5 }",
    # LANG over a variable two patterns bind as object
    'SELECT ?s WHERE { ?s schema:name ?n . ?t schema:jobTitle ?n '
    'FILTER(LANG(?n) = "") }',
    # both raise: OPTIONAL first, OPTIONAL sharing nothing
    "SELECT ?s WHERE { OPTIONAL { ?s ?p ?o } }",
    "SELECT ?s WHERE { ?s a schema:Person "
    "OPTIONAL { ?t schema:url ?x } }",
], ids=[*_DECK_SHAPES, "union", "minus", "exists", "values", "bind",
        "subselect", "path", "optional_filter_inside", "optional_chained",
        "required_after_optional", "ask", "ask_not_exists",
        "repeated_var", "typed_literal", "bare_number", "lang_ambiguous",
        "optional_first", "optional_disjoint"])
def test_query_encoded_differential(request, spark, encoded_kg, sparql):
    """query_encoded(e, t, q) answers like query(decode_triples(e, t), q),
    or both raise where query() rejects the shape: the deck's warehouse
    templates and every shape the warehouse engine once rejected."""
    from trident_spark.pipeline.kg import decode_triples

    edges, terms, lexical = encoded_kg
    case = request.node.callspec.id
    _differential(decode_triples(edges, terms), edges, terms,
                  _deck_query(lexical, sparql),
                  raises=case in _BOTH_RAISE)


@pytest.fixture(scope="module")
def reified_kg(spark, encoded_kg):
    """encoded_kg's graph plus a reification of its worksFor edges, each
    annotated with its subject, as (edges, terms, lexical)."""
    from pyspark.sql import functions as F

    from tests.test_rdfstar import _encoded
    from trident_spark.pipeline import rdfstar

    lexical = encoded_kg[2]
    works = lexical.where(F.col("pred") == SCHEMA + "worksFor")
    graph = lexical.unionByName(rdfstar.reify(
        works.withColumn("doc", F.col("subj")), SCHEMA + "about", "doc",
        ann_kind="iri"))
    return (*[t.localCheckpoint(eager=True) for t in _encoded(graph)],
            graph.localCheckpoint(eager=True))


# the deck templates plus a pattern that repeats a variable (an id
# equality on the scan, not a read of the decoded graph), the deck's path
# template (a closure over the id edges) and a quoted triple (a join of
# the edges with the dictionary's triple terms)
_SCAN_SHAPES = {**_DECK_SHAPES,
                "repeated_var": "SELECT ?s WHERE { ?s schema:url ?s }",
                "path": "SELECT ?x WHERE { <{node}> schema:worksFor+ ?x }",
                "quoted": "SELECT ?o ?d WHERE { ?r <http://www.w3.org/1999/"
                          "02/22-rdf-syntax-ns#reifies> <<( <{node}> "
                          "schema:worksFor ?o )>> . ?r schema:about ?d }"}


@pytest.mark.parametrize("template", list(_SCAN_SHAPES))
def test_query_encoded_deck_shapes_scan_only_ids(
        spark, encoded_kg, reified_kg, tmp_path, monkeypatch, template):
    """On a parquet warehouse every edge scan of a deck template (and of a
    repeated-variable pattern or a quoted triple) reads the id columns
    only, and no plan decodes the whole edge table.  A closure
    materializes its rounds with localCheckpoint, so the plans it
    checkpoints are read too."""
    import re as _re

    from trident_spark.query.sparql import query_encoded

    edges, terms, lexical = \
        reified_kg if template == "quoted" else encoded_kg
    plans = []
    frame = type(edges)
    checkpoint = frame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", recording)
    edges.write.parquet(str(tmp_path / "triples"))
    terms.write.parquet(str(tmp_path / "terms"))
    df = query_encoded(spark.read.parquet(str(tmp_path / "triples")),
                       spark.read.parquet(str(tmp_path / "terms")),
                       _deck_query(lexical, _SCAN_SHAPES[template]))
    assert df.collect()
    plan = "\n".join(
        [*plans, df._jdf.queryExecution().executedPlan().toString()])
    # decode_triples names its columns obj_lexical/obj_kind
    assert "obj_lexical" not in plan, plan
    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    edge_scans = [{c.split(":")[0] for c in s.split(",")} for s in schemas
                  if "subj_id" in s or "pred_id" in s or "obj_id" in s]
    assert edge_scans, plan
    for cols in edge_scans:
        assert cols <= {"subj_id", "pred_id", "obj_id"}, cols


# r5: the encoded engine shares _select_tail with the lexical engine —
# every aggregate/modifier form must give the SAME answer on both, with
# no fallback.  (The pre-r5 private tail copy silently SKIPPED grouping
# for GROUP BY-only and hidden-HAVING queries — wrong rows, not a loud
# reject — which is why these are differential, not golden.)
_PFX = "PREFIX schema: <https://schema.org/>\n"


@pytest.mark.parametrize("sparql", [
    # SUM/AVG(DISTINCT), GROUP_CONCAT SEPARATOR (r4 lexical forms) —
    # numeric values derived from names (the fixture KG has no numeric
    # literal predicate; STRLEN keeps the aggregate input non-empty)
    _PFX + "SELECT ?t (SUM(DISTINCT STRLEN(?n)) AS ?sc) WHERE { ?s a ?t . "
           "?s schema:name ?n } GROUP BY ?t",
    _PFX + "SELECT ?t (AVG(DISTINCT STRLEN(?n)) AS ?ac) WHERE { ?s a ?t . "
           "?s schema:name ?n } GROUP BY ?t",
    _PFX + 'SELECT ?t (GROUP_CONCAT(DISTINCT ?n; SEPARATOR="|") AS ?ns) '
           "WHERE { ?s a ?t . ?s schema:name ?n } GROUP BY ?t",
    # hidden aggregates in HAVING and ORDER BY
    _PFX + "SELECT ?t WHERE { ?s a ?t } GROUP BY ?t HAVING(COUNT(?s) > 3)",
    _PFX + "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t "
           "ORDER BY DESC(COUNT(?s)) LIMIT 3",
    # expression-over-aggregate projection
    _PFX + "SELECT ?t (COUNT(?s) * 2 AS ?n2) WHERE { ?s a ?t } GROUP BY ?t",
    # GROUP BY expression keys: (expr AS ?k) and bare builtin-call form
    _PFX + "SELECT ?k (COUNT(?s) AS ?n) WHERE { ?s schema:name ?nm } "
           "GROUP BY (SUBSTR(?nm, 1, 1) AS ?k)",
    _PFX + "SELECT (COUNT(?s) AS ?n) WHERE { ?s schema:name ?nm } "
           "GROUP BY STR(?nm)",
    # GROUP BY-only ≡ distinct keys (the silent-wrong-answer shape)
    _PFX + "SELECT ?t WHERE { ?s a ?t } GROUP BY ?t",
])
def test_query_encoded_select_tail_parity(spark, encoded_kg, sparql):
    edges, terms, lexical = encoded_kg
    _differential(lexical, edges, terms, sparql)


def test_query_encoded_aggregate_scan_stays_id_only(
        spark, encoded_kg, tmp_path):
    """The unified tail must not cost the warehouse path its id-only edge
    scans: a DISTINCT-aggregate + hidden-ORDER BY query still reads only
    the 8-byte id columns from the edges PARQUET (ReadSchema evidence —
    the fixture frames are checkpointed, so persist them first like the
    real warehouse layout)."""
    from trident_spark.query.sparql import query_encoded

    edges, terms, _ = encoded_kg
    edges.write.parquet(str(tmp_path / "triples"))
    terms.write.parquet(str(tmp_path / "terms"))
    df = query_encoded(
        spark.read.parquet(str(tmp_path / "triples")),
        spark.read.parquet(str(tmp_path / "terms")), _PFX + """
        SELECT ?t (SUM(DISTINCT STRLEN(?n)) AS ?sc) WHERE {
            ?s a ?t . ?s schema:name ?n
        } GROUP BY ?t ORDER BY DESC(COUNT(?s))
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert df.count() > 0
    # every edge-side scan must read id columns only (the terms-table
    # scans legitimately read lexical/kind/... for the decode joins)
    import re as _re
    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    edge_scans = [s for s in schemas
                  if "subj_id" in s or "pred_id" in s or "obj_id" in s]
    assert edge_scans, plan  # the parquet scans must be visible
    for cols in edge_scans:
        assert "lexical" not in cols, plan


def test_select_expression_projection(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n (UCASE(?n) AS ?up) (STRLEN(?n) * 2 AS ?len2) WHERE {
            ?s a schema:Person ; schema:name ?n .
        } ORDER BY ?n
    """)
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "ALICE", 10), ("Bob", "BOB", 6)]


def test_select_expression_mixed_with_agg(spark, graph):
    """(was rejected; lifted r4) plain expressions over GROUP BY keys
    coexist with aggregates — computed post-aggregation."""
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT (UCASE(?t) AS ?u) (COUNT(?s) AS ?n) WHERE { ?s a ?t }
        GROUP BY ?t ORDER BY ?u
    """)
    rows = [(r["u"], r["n"]) for r in df.collect()]
    assert all(u == u.upper() for u, _ in rows) and len(rows) >= 1
    assert df.columns == ["u", "n"]


def test_query_encoded_select_expression(spark, encoded_kg):
    edges, terms, lexical = encoded_kg
    _differential(lexical, edges, terms, """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT (UCASE(?n) AS ?up) WHERE {
            ?p a schema:Person ; schema:name ?n .
        }
    """)


def test_order_by_expression(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE { ?s schema:name ?n . }
        ORDER BY DESC(STRLEN(?n)) ?n
    """)
    assert [r["n"] for r in df.collect()] == [
        "Globex", "Alice", "Acme", "Bob"]


def test_construct_over_quads_dataset_semantics(spark, quads):
    """CONSTRUCT over a quads frame: top-level WHERE patterns see only the
    default graph; GRAPH patterns reach the named graphs — consistent with
    query() and describe()."""
    from trident_spark.query.sparql import construct

    out = construct(quads, """
        PREFIX schema: <https://schema.org/>
        CONSTRUCT { ?s <http://x/seen> ?n }
        WHERE { GRAPH <http://g/1> { ?s schema:name ?n } }
    """)
    got = {(r["subj"], r["obj_lexical"]) for r in out.collect()}
    assert got == {("http://x/alice", "Alice")}
    # top-level pattern = default graph only (type assertions live there)
    out2 = construct(quads, """
        PREFIX schema: <https://schema.org/>
        CONSTRUCT { ?s <http://x/isa> ?t } WHERE { ?s a ?t }
    """)
    assert out2.count() == 2  # alice + bob, not the named-graph facts


def test_update_triples_frame_rejects_named_graphs(spark, graph, quads):
    """A triples frame is the default graph alone: every form that names
    another graph raises instead of writing into the default graph, and
    a quads frame takes the default-graph forms with the graph kept."""
    from trident_spark.query.sparql import update

    for sparql in [
        "CLEAR GRAPH <http://g/1>",
        "DROP NAMED",
        "CREATE GRAPH <http://g/9>",
        "COPY DEFAULT TO GRAPH <http://g/2>",
        'INSERT DATA { GRAPH <http://g/1> { <http://x/s> <http://p/p> "v" } }',
        "WITH <http://g/1> DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }",
        "INSERT { GRAPH <http://g/1> { ?s <http://p/q> ?o } } "
        "WHERE { ?s <http://p/p> ?o }",
        "DELETE { ?s ?p ?o } USING <http://g/1> WHERE { ?s ?p ?o }",
        "DELETE { ?s ?p ?o } WHERE { GRAPH ?g { ?s ?p ?o } }",
    ]:
        with pytest.raises(SparqlError):
            update(graph, sparql).collect()
    assert update(graph, "DROP DEFAULT").count() == 0
    assert update(graph, "CLEAR ALL").count() == 0
    out = update(quads, 'INSERT DATA { <http://x/s> <http://p/p> "v" . }')
    assert out.columns == quads.columns
    assert _q(out.where(out.subj == "http://x/s").select(
        "obj_lexical", "graph").collect()) == {("v", None)}
    assert out.count() == quads.count() + 1


def test_is_blank_on_subject_position_var(spark):
    """isIRI/isBLANK on a var bound only in SUBJECT position works (kind
    derived from the label shape) instead of crashing on a missing hidden
    column; LANG() of it is an error (SPARQL 1.1 §17.4.2.7: subjects are
    never literals), so a FILTER on it is false."""
    rows = [
        ("_:b1", "http://p/n", "v1", "literal", None, None),
        ("http://x/a", "http://p/n", "v2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, "SELECT ?o WHERE { ?s <http://p/n> ?o . FILTER(isBLANK(?s)) }")
    assert [r["o"] for r in df.collect()] == ["v1"]
    df2 = query(g, """SELECT ?o WHERE {
        ?s <http://p/n> ?o . FILTER(isIRI(?s)) }""")
    assert [r["o"] for r in df2.collect()] == ["v2"]
    df3 = query(g, """SELECT ?o WHERE {
        ?s <http://p/n> ?o . FILTER(isIRI(?s) && LANG(?s) = "") }""")
    assert df3.collect() == []


def test_term_filter_on_expression_var(spark, graph):
    """A BIND expression binds a simple literal, so a term-kind test on
    it is answered, not refused."""
    for test, want in (("isLITERAL", ["ACME", "ALICE", "BOB", "GLOBEX"]),
                       ("isIRI", [])):
        df = query(graph, f"""
            PREFIX schema: <https://schema.org/>
            SELECT ?x WHERE {{
                ?s schema:name ?n . BIND(UCASE(?n) AS ?x)
                FILTER({test}(?x))
            }}
        """)
        assert sorted(r["x"] for r in df.collect()) == want, test


def test_regex_with_backslash_class(spark):
    rows = [("http://x/a", "http://p/n", "doc42", "literal", None, None),
            ("http://x/b", "http://p/n", "nope", "literal", None, None),
            ("http://x/c", "http://p/n", "a\\b", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, r'SELECT ?s WHERE { ?s <http://p/n> ?o . FILTER(REGEX(?o, "\\d+")) }')
    assert [r["s"] for r in df.collect()] == ["http://x/a"]
    df2 = query(g, r'SELECT ?s WHERE { ?s <http://p/n> ?o . FILTER(?o = "a\\b") }')
    assert [r["s"] for r in df2.collect()] == ["http://x/c"]


def test_hash_numeric_datetime_functions(spark):
    """§17.4 library additions (r4): MD5/SHA1/SHA256, ROUND/CEIL/FLOOR,
    isNUMERIC, and the xsd:dateTime accessors (lexical-form reads, so no
    engine timestamp-parser divergence)."""
    import hashlib

    rows = [("http://x/a", "http://p/v", "hello", "literal", None, None),
            ("http://x/b", "http://p/n", "2.6", "literal", None, None),
            ("http://x/c", "http://p/d", "2025-03-04T05:06:07.25Z",
             "literal", None, None),
            ("http://x/e", "http://p/d", "-0044-01-02T03:04:05+02:30",
             "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?h ?h2 WHERE {
        <http://x/a> <http://p/v> ?o .
        BIND(MD5(?o) AS ?h) BIND(SHA256(?o) AS ?h2) }""")
    r = df.first()
    assert r["h"] == hashlib.md5(b"hello").hexdigest()
    assert r["h2"] == hashlib.sha256(b"hello").hexdigest()
    df2 = query(g, """SELECT ?r ?c ?f ?num WHERE {
        <http://x/b> <http://p/n> ?o .
        BIND(ROUND(?o) AS ?r) BIND(CEIL(?o) AS ?c)
        BIND(FLOOR(?o) AS ?f) BIND(isNUMERIC(?o) AS ?num) }""")
    r2 = df2.first()
    assert (float(r2["r"]), float(r2["c"]), float(r2["f"])) == (3.0, 3.0, 2.0)
    assert r2["num"] is True
    df3 = query(g, """SELECT ?y ?mo ?d ?hh ?mi ?s ?tz WHERE {
        <http://x/c> <http://p/d> ?o .
        BIND(YEAR(?o) AS ?y) BIND(MONTH(?o) AS ?mo) BIND(DAY(?o) AS ?d)
        BIND(HOURS(?o) AS ?hh) BIND(MINUTES(?o) AS ?mi)
        BIND(SECONDS(?o) AS ?s) BIND(TZ(?o) AS ?tz) }""")
    r3 = df3.first()
    assert (r3["y"], r3["mo"], r3["d"], r3["hh"], r3["mi"]) == \
        (2025, 3, 4, 5, 6)
    assert r3["s"] == 7.25 and r3["tz"] == "Z"
    df4 = query(g, """SELECT ?y ?tz WHERE {
        <http://x/e> <http://p/d> ?o .
        BIND(YEAR(?o) AS ?y) BIND(TZ(?o) AS ?tz) }""")
    r4 = df4.first()
    assert r4["y"] == -44 and r4["tz"] == "+02:30"
    # isNUMERIC false on prose
    df5 = query(g, 'SELECT ?n WHERE { <http://x/a> <http://p/v> ?o . '
                   'BIND(isNUMERIC(?o) AS ?n) }')
    assert df5.first()["n"] is False


def test_term_constructors_attach_metadata(spark):
    """STRLANG/STRDT/IRI in BIND build TYPED terms: LANG()/DATATYPE()/
    isIRI observe the constructed type, and CONSTRUCT emits the right
    kinds (r4)."""
    rows = [("http://x/a", "http://p/n", "hola", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?l ?dtv ?isi WHERE {
        ?s <http://p/n> ?o .
        BIND(STRLANG(?o, "es") AS ?t)
        BIND(STRDT(?o, <http://www.w3.org/2001/XMLSchema#token>) AS ?d)
        BIND(IRI(CONCAT("http://x/", ?o)) AS ?u)
        BIND(LANG(?t) AS ?l) BIND(DATATYPE(?d) AS ?dtv)
        BIND(isIRI(?u) AS ?isi) }""")
    r = df.first()
    assert r["l"] == "es"
    assert r["dtv"] == "http://www.w3.org/2001/XMLSchema#token"
    assert r["isi"] is True
    # CONSTRUCT sees the constructed kinds/metadata
    from trident_spark.query.sparql import construct

    out = construct(g, """CONSTRUCT { ?s <http://p/made> ?u } WHERE {
        ?s <http://p/n> ?o . BIND(IRI(CONCAT("http://x/", ?o)) AS ?u) }""")
    row = out.first()
    assert row["obj_kind"] == "iri" and row["obj_lexical"] == "http://x/hola"
    # a constructor nested in a larger expression contributes its VALUE
    # (kind metadata only attaches for top-level BIND constructors)
    df2 = query(g, """SELECT ?y WHERE {
        ?s <http://p/n> ?o .
        BIND(CONCAT(STR(IRI(?o)), "!") AS ?y) }""")
    assert df2.first()["y"] == "hola!"


def test_strlangdir_constructor(spark):
    """STRLANGDIR (SPARQL 1.2 §17.4.2) builds an rdf:dirLangString —
    LANG() sees the bare tag, LANGDIR() the direction, DATATYPE() the
    dirLangString IRI; stored tag form is `tag--dir` (r5)."""
    rows = [("http://x/a", "http://p/n", "hola", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?l ?d ?dtv WHERE {
        ?s <http://p/n> ?o .
        BIND(STRLANGDIR(?o, "es", "rtl") AS ?t)
        BIND(LANG(?t) AS ?l) BIND(LANGDIR(?t) AS ?d)
        BIND(DATATYPE(?t) AS ?dtv) }""")
    r = df.first()
    assert r["l"] == "es" and r["d"] == "rtl"
    assert r["dtv"] == \
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#dirLangString"
    with pytest.raises(SparqlError, match="ltr.*rtl|'ltr' or 'rtl'"):
        query(g, 'SELECT ?t WHERE { ?s <http://p/n> ?o . '
                 'BIND(STRLANGDIR(?o, "es", "up") AS ?t) }')


def test_nondeterministic_functions_rejected(spark, graph):
    for fn in ("NOW()", "RAND()", "UUID()", "STRUUID()"):
        with pytest.raises(SparqlError, match="non-deterministic"):
            query(graph, f"SELECT ?x WHERE {{ ?s ?p ?o . "
                         f"BIND({fn} AS ?x) }}")


def test_service_rejected_loudly(spark, graph):
    """Federation is documented out of scope; the rejection must name
    SERVICE, not trip over the endpoint IRI as a malformed pattern."""
    with pytest.raises(SparqlError, match="SERVICE"):
        query(graph, """SELECT ?s WHERE {
            SERVICE <http://remote/sparql> { ?s ?p ?o } }""")
    with pytest.raises(SparqlError, match="SERVICE"):
        query(graph, """SELECT ?s WHERE {
            ?s ?p ?o . SERVICE SILENT <http://r/> { ?s ?p ?o } }""")


def test_path_inside_nested_graph_group(spark):
    """A property-path closure inside a nested group of a GRAPH ?var
    scope stays per-graph: the g1 chain a->b->c closes within g1 only,
    and g2's single edge never mixes in (r3 verdict item 8)."""
    rows = [
        ("http://x/a", "http://p/n", "http://x/b", "iri", None, None,
         "http://g/1"),
        ("http://x/b", "http://p/n", "http://x/c", "iri", None, None,
         "http://g/1"),
        ("http://x/a", "http://p/n", "http://x/z", "iri", None, None,
         "http://g/2"),
    ]
    g = spark.createDataFrame(rows, COLS + ", graph string")
    df = query(g, "SELECT ?g ?s ?o WHERE { GRAPH ?g { "
                  "{ ?s <http://p/n>+ ?o } } }")
    assert sorted(tuple(r) for r in df.collect()) == [
        ("http://g/1", "http://x/a", "http://x/b"),
        ("http://g/1", "http://x/a", "http://x/c"),
        ("http://g/1", "http://x/b", "http://x/c"),
        ("http://g/2", "http://x/a", "http://x/z"),
    ]
    # mixed: nested-group path joined with a plain pattern in the scope
    df2 = query(g, """SELECT ?g ?s ?o WHERE { GRAPH ?g {
        { ?s <http://p/n>+ ?o }
        ?s <http://p/n> ?direct .
    } }""")
    assert df2.count() == 4  # every path start has a direct edge here


def test_values_undef_compatibility(spark):
    """SPARQL 1.1 §10.2: an UNDEF cell is compatible with any binding of
    that variable; bound cells must match.  Covers UNDEF in a shared var,
    UNDEF in a values-only var, and a VALUES block opening the group."""
    rows = [
        ("http://x/a", "http://p/t", "http://T/1", "iri", None, None),
        ("http://x/b", "http://p/t", "http://T/2", "iri", None, None),
        ("http://x/c", "http://p/t", "http://T/3", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    # UNDEF in the SHARED var ?t matches every subject; the bound row
    # only matches T/1.  ?m rides along (NULL when UNDEF).
    df = query(g, """
        SELECT ?s ?m WHERE {
            ?s <http://p/t> ?t .
            VALUES (?t ?m) { (<http://T/1> "one") (UNDEF "wild") }
        }
    """)
    got = {(r["s"], r["m"]) for r in df.collect()}
    assert got == {
        ("http://x/a", "one"),
        ("http://x/a", "wild"), ("http://x/b", "wild"),
        ("http://x/c", "wild"),
    }
    # UNDEF in a values-only var → the variable stays unbound (NULL)
    df2 = query(g, """
        SELECT ?s ?m WHERE {
            ?s <http://p/t> <http://T/2> .
            VALUES ?m { UNDEF }
        }
    """)
    assert [(r["s"], r["m"]) for r in df2.collect()] == [("http://x/b", None)]
    # VALUES with UNDEF opening the group: its rows ARE the plan; the
    # following pattern compat-joins (UNDEF row matches every binding)
    df3 = query(g, """
        SELECT ?s ?t WHERE {
            VALUES (?t) { (UNDEF) (<http://T/3>) }
            ?s <http://p/t> ?t .
        }
    """)
    got3 = {(r["s"], r["t"]) for r in df3.collect()}
    assert got3 == {
        ("http://x/a", "http://T/1"), ("http://x/b", "http://T/2"),
        ("http://x/c", "http://T/3"),
    }


def test_values_undef_with_optional_and_bind(spark):
    """r4 review findings: an UNDEF row must survive OPTIONAL (the left
    join extends the unbound var per §10.2 compatibility, it does NOT
    drop the solution), BIND over an UNDEF-only var works, and
    VALUES-then-OPTIONAL is a legal group opening."""
    rows = [
        ("http://x/s", "http://p/knows", "http://x/bobref", "iri",
         None, None),
        ("http://x/bobref", "http://p/name", "Bob", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    # UNDEF row extended by OPTIONAL → n=Bob; bound row stays Zed
    df = query(g, """
        SELECT ?s ?n WHERE {
            VALUES ?n { UNDEF "Zed" }
            ?s <http://p/knows> ?o .
            OPTIONAL { ?o <http://p/name> ?n }
        }
    """)
    got = {(r["s"], r["n"]) for r in df.collect()}
    assert got == {("http://x/s", "Bob"), ("http://x/s", "Zed")}
    # BIND over a var bound only by an UNDEF-bearing VALUES
    df2 = query(g, """
        SELECT ?m ?x WHERE {
            ?s <http://p/knows> ?o .
            VALUES ?m { UNDEF "v" }
            BIND(COALESCE(?m, "fallback") AS ?x)
        }
    """)
    assert {(r["m"], r["x"]) for r in df2.collect()} == \
        {(None, "fallback"), ("v", "v")}
    # VALUES opening the group followed by OPTIONAL is legal
    df3 = query(g, """
        SELECT ?o ?n WHERE {
            VALUES ?o { <http://x/bobref> UNDEF }
            OPTIONAL { ?o <http://p/name> ?n }
        }
    """)
    got3 = [(r["o"], r["n"]) for r in df3.collect()]
    # the bound row extends directly; the UNDEF row compat-extends to the
    # same solution (bag semantics: two identical solutions)
    assert sorted(got3) == [("http://x/bobref", "Bob")] * 2


def test_echar_control_char_literals(spark):
    """SPARQL ECHAR escapes (\\n \\t \\r \\b \\f) in string constants must
    decode to real control characters — in FILTER expressions, in BIND, and
    in triple-pattern object constants — matching a stored literal that
    contains the actual control char (ADVICE r3: only \\" and \\\\ were
    decoded, so these matched 0 rows)."""
    rows = [("http://x/a", "http://p/n", "line1\nline2", "literal",
             None, None),
            ("http://x/b", "http://p/n", "tab\there", "literal", None, None),
            ("http://x/c", "http://p/n", "plain", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    # FILTER equality against a \n-bearing constant
    df = query(g, 'SELECT ?s WHERE { ?s <http://p/n> ?o . '
                  'FILTER(?o = "line1\\nline2") }')
    assert [r["s"] for r in df.collect()] == ["http://x/a"]
    # triple-pattern object constant with \t
    df2 = query(g, 'SELECT ?s WHERE { ?s <http://p/n> "tab\\there" . }')
    assert [r["s"] for r in df2.collect()] == ["http://x/b"]
    # BIND producing a control char round-trips into the result
    df3 = query(g, 'SELECT ?x WHERE { <http://x/c> <http://p/n> ?o . '
                   'BIND(CONCAT(?o, "\\r\\n") AS ?x) }')
    assert [r["x"] for r in df3.collect()] == ["plain\r\n"]
    # \f has NO Spark escape (r4 review: '\f' parses as 'f') → \uXXXX:
    # must match the real form-feed literal and NOT the 'f' one
    gf = spark.createDataFrame(
        [("http://x/f", "http://p/n", "A\fcme", "literal", None, None),
         ("http://x/g", "http://p/n", "Afcme", "literal", None, None)],
        COLS)
    dff = query(gf, 'SELECT ?s WHERE { ?s <http://p/n> ?o . '
                    'FILTER(?o = "A\\fcme") }')
    assert [r["s"] for r in dff.collect()] == ["http://x/f"]
    dfb = query(gf, 'SELECT ?x WHERE { <http://x/g> <http://p/n> ?o . '
                    'BIND(CONCAT(?o, "\\b\\f") AS ?x) }')
    assert [r["x"] for r in dfb.collect()] == ["Afcme\b\f"]
    # unknown escapes stay lenient: "\d" is a literal backslash-d
    df4 = query(g, r'SELECT ?s WHERE { ?s <http://p/n> ?o . '
                   r'FILTER(REGEX(?o, "^pla\\w+$")) }')
    assert [r["s"] for r in df4.collect()] == ["http://x/c"]


def test_encode_for_uri_unreserved_set(spark):
    """SPARQL 17.4.3.15: RFC 3986 unreserved chars (ALPHA DIGIT - . _ ~)
    are kept; everything else — including '*', which Java form-encoding
    leaves bare — is percent-encoded; '~' — which Java encodes as %7E —
    is kept."""
    rows = [("http://x/a", "http://p/n", "a~b*c d-._", "literal",
             None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, 'SELECT ?e WHERE { ?s <http://p/n> ?o . '
                  'BIND(ENCODE_FOR_URI(?o) AS ?e) }')
    assert [r["e"] for r in df.collect()] == ["a~b%2Ac%20d-._"]


def test_numeric_boolean_object_constants(spark):
    rows = [("http://x/a", "http://p/age", "42", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None),
            ("http://x/b", "http://p/ok", "true", "literal",
             "http://www.w3.org/2001/XMLSchema#boolean", None)]
    g = spark.createDataFrame(rows, COLS)
    assert [r["s"] for r in query(
        g, "SELECT ?s WHERE { ?s <http://p/age> 42 . }").collect()] \
        == ["http://x/a"]
    assert [r["s"] for r in query(
        g, "SELECT ?s WHERE { ?s <http://p/ok> true . }").collect()] \
        == ["http://x/b"]


def test_prefix_shaped_string_literal_survives(spark, graph):
    df = query(graph, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            ?s schema:name ?n .
            FILTER(?n != "PREFIX p: <http://evil/>")
        }
    """)
    assert df.count() == 4  # nothing rewritten, nothing dropped


def test_construct_blank_template_fresh_per_solution(spark, graph):
    from trident_spark.query.sparql import construct

    out = construct(graph, """
        PREFIX schema: <https://schema.org/>
        CONSTRUCT { ?p schema:addr _:a } WHERE { ?p a schema:Person }
    """)
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["obj_kind"] == "blank" for r in rows)
    assert len({r["obj_lexical"] for r in rows}) == 2  # fresh per solution


def test_malformed_queries_raise_sparql_error(spark, graph):
    for bad in ["SELECT * WHERE { ?s <http://p>/<http://q>",
                "CONSTRUCT { <http://s> <http://p> <http://o> } WHERE",
                "SELECT ?s WHERE { ?s ?p ?o } LIMIT abc"]:
        with pytest.raises(SparqlError):
            query(graph, bad)


def test_numeric_datetime_builtins_error_semantics(spark):
    """SPARQL expression errors are PER-ROW (the variable stays unbound),
    never whole-query aborts: ROUND/CEIL/FLOOR/ABS over a non-numeric
    lexical and YEAR(...) over prose must yield NULL under Spark 4 ANSI
    mode, not raise (r4: try_cast / nullif hardening)."""
    rows = [("http://x/a", "http://p/v", "hello", "literal", None, None),
            ("http://x/b", "http://p/v", "-2.5", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?s ?r ?c ?f ?ab ?y WHERE {
        ?s <http://p/v> ?o .
        BIND(ROUND(?o) AS ?r) BIND(CEIL(?o) AS ?c)
        BIND(FLOOR(?o) AS ?f) BIND(ABS(?o) AS ?ab)
        BIND(YEAR(?o) AS ?y) } ORDER BY ?s""")
    a, b = df.collect()
    assert (a["r"], a["c"], a["f"], a["ab"], a["y"]) == (None,) * 5
    assert (float(b["r"]), float(b["c"]), float(b["f"]),
            float(b["ab"])) == (-2.0, -2.0, -3.0, 2.5)
    assert b["y"] is None


def test_term_constructor_over_unbound_stays_unbound(spark):
    """IRI/STRLANG over an UNBOUND argument is a SPARQL expression error:
    the bound variable must stay unbound — including its hidden kind
    metadata, so isIRI/LANG/BOUND see NULL, not a phantom typed term."""
    rows = [("http://x/a", "http://p/n", "hola", "literal", None, None),
            ("http://x/b", "http://p/n", "adios", "literal", None, None),
            ("http://x/a", "http://p/m", "tag", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?s ?isi ?l ?b WHERE {
        ?s <http://p/n> ?o .
        OPTIONAL { ?s <http://p/m> ?m }
        BIND(IRI(CONCAT("http://t/", ?m)) AS ?u)
        BIND(STRLANG(?m, "es") AS ?t)
        BIND(isIRI(?u) AS ?isi) BIND(LANG(?t) AS ?l)
        BIND(BOUND(?u) AS ?b) } ORDER BY ?s""")
    a, b = df.collect()
    assert a["s"] == "http://x/a"
    assert a["isi"] is True and a["l"] == "es" and a["b"] is True
    # x/b has no <m>: constructor args unbound -> everything unbound
    assert b["isi"] is None and b["b"] is False
    assert b["l"] in (None, "")  # LANG of unbound = expression error


def test_nested_graph_rescopes_active_graph(spark, quads):
    """GRAPH-in-GRAPH (SPARQL §13.3): the inner GRAPH re-scopes the
    active graph, so constant-in-constant reads the INNER graph, and an
    outer ?var left unbound by its subgroup still ranges over every
    named graph (a cross with the name list)."""
    # constant-in-constant: inner g2 wins
    df = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?n WHERE {
            GRAPH <http://g/1> { GRAPH <http://g/2> { ?p schema:name ?n } }
        }
    """)
    assert [r["n"] for r in df.collect()] == ["Bob"]
    # var-outer, constant inner: ?g crosses ALL named graphs
    df2 = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?g ?n WHERE {
            GRAPH ?g { GRAPH <http://g/2> { ?p schema:name ?n } }
        }
    """)
    assert sorted(tuple(r) for r in df2.collect()) == [
        ("http://g/1", "Bob"), ("http://g/2", "Bob")]


def test_nested_graph_var_joins_with_siblings(spark, quads):
    """An outer GRAPH ?g bound by a SIBLING pattern joins normally with
    an inner GRAPH ?h scope; same-var nesting collapses to the inner
    binding."""
    df = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?g ?h ?n WHERE {
            GRAPH ?g { ?p schema:worksFor ?o .
                       GRAPH ?h { ?p schema:name ?n } }
        }
    """)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("http://g/1", "http://g/1", "Alice")]
    # same var inside and out: must agree (single binding)
    df2 = query(quads, """
        PREFIX schema: <https://schema.org/>
        SELECT ?g ?n WHERE {
            GRAPH ?g { GRAPH ?g { ?p schema:name ?n } }
        }
    """)
    assert sorted(tuple(r) for r in df2.collect()) == [
        ("http://g/1", "Alice"), ("http://g/2", "Bob")]


def test_nested_graph_path_closure(spark):
    """Property paths inside GRAPH-in-GRAPH: the inner scope's closure
    applies (constant inner under var outer = cross with names; var
    inner under constant outer = per-graph closure)."""
    qcols = COLS + ", graph string"
    rows = [
        ("http://x/a", "http://p/n", "http://x/b", "iri", None, None,
         "http://g/1"),
        ("http://x/b", "http://p/n", "http://x/c", "iri", None, None,
         "http://g/1"),
        ("http://x/b", "http://p/n", "http://x/d", "iri", None, None,
         "http://g/2"),
    ]
    g = spark.createDataFrame(rows, qcols)
    df = query(g, """
        SELECT ?g ?x WHERE {
            GRAPH ?g { GRAPH <http://g/1> { <http://x/a> <http://p/n>+ ?x } }
        }
    """)
    got = sorted((r["g"], r["x"]) for r in df.collect())
    assert got == [("http://g/1", "http://x/b"), ("http://g/1", "http://x/c"),
                   ("http://g/2", "http://x/b"), ("http://g/2", "http://x/c")]
    df2 = query(g, """
        SELECT ?h ?x WHERE {
            GRAPH <http://g/2> { GRAPH ?h { <http://x/a> <http://p/n>+ ?x } }
        }
    """)
    got2 = sorted((r["h"], r["x"]) for r in df2.collect())
    assert got2 == [("http://g/1", "http://x/b"),
                    ("http://g/1", "http://x/c")]


def test_minus_exists_with_undef_nullable_vars(spark):
    """UNDEF-nullable variables reaching MINUS / EXISTS / NOT EXISTS use
    §10.2 compatibility (NULL matches anything; MINUS also needs the
    §8.3 domain overlap) instead of SQL equality, which would silently
    keep/drop the unbound rows wrongly."""
    rows = [
        ("http://x/a", "http://p/t", "http://T/1", "iri", None, None),
        ("http://x/b", "http://p/t", "http://T/2", "iri", None, None),
        ("http://x/a", "http://p/q", "x", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    # MINUS: the (a, UNDEF) row IS compatible with the right row
    # {s:a, m:"x"} (m unbound left, s overlaps) -> removed
    df = query(g, """
        SELECT ?s ?m WHERE {
            ?s <http://p/t> ?t .
            VALUES ?m { "x" UNDEF }
            MINUS { ?s <http://p/q> ?m }
        }
    """)
    got = {(r["s"], r["m"]) for r in df.collect()}
    assert got == {("http://x/b", "x"), ("http://x/b", None)}
    # EXISTS: unbound ?m constrains nothing -> (a, UNDEF) passes
    df2 = query(g, """
        SELECT ?s ?m WHERE {
            ?s <http://p/t> ?t .
            VALUES ?m { "x" "y" UNDEF }
            FILTER EXISTS { ?s <http://p/q> ?m }
        }
    """)
    got2 = {(r["s"], r["m"]) for r in df2.collect()}
    assert got2 == {("http://x/a", "x"), ("http://x/a", None)}
    # NOT EXISTS: exact complement of the EXISTS rows
    df3 = query(g, """
        SELECT ?s ?m WHERE {
            ?s <http://p/t> ?t .
            VALUES ?m { "x" "y" UNDEF }
            FILTER NOT EXISTS { ?s <http://p/q> ?m }
        }
    """)
    got3 = {(r["s"], r["m"]) for r in df3.collect()}
    assert got3 == {("http://x/a", "y"), ("http://x/b", "x"),
                    ("http://x/b", "y"), ("http://x/b", None)}


def test_filter_never_bound_variable_is_unbound(spark):
    """Referencing a variable the group never binds is an UNBOUND
    reference (NULL / expression error per §17.2), not an analysis
    crash: COALESCE falls through, BOUND is false, a bare comparison
    errors to false — and IN / NOT IN lists work on bound vars."""
    rows = [("http://x/a", "http://p/t", "one", "literal", None, None),
            ("http://x/b", "http://p/t", "two", "literal", None, None),
            ("http://x/c", "http://p/t", "three", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, 'SELECT ?s WHERE { ?s <http://p/t> ?o . '
                  'FILTER(COALESCE(?zzz, ?o) = "one") }')
    assert [r["s"] for r in df.collect()] == ["http://x/a"]
    df2 = query(g, 'SELECT ?s WHERE { ?s <http://p/t> ?o . '
                   'FILTER(!BOUND(?zzz)) }')
    assert df2.count() == 3
    df3 = query(g, 'SELECT ?s WHERE { ?s <http://p/t> ?o . '
                   'FILTER(?zzz = "one") }')
    assert df3.count() == 0
    df4 = query(g, 'SELECT ?s WHERE { ?s <http://p/t> ?o . '
                   'FILTER(?o IN ("one", "two")) }')
    assert sorted(r["s"] for r in df4.collect()) == [
        "http://x/a", "http://x/b"]
    df5 = query(g, 'SELECT ?s WHERE { ?s <http://p/t> ?o . '
                   'FILTER(?o NOT IN ("one")) }')
    assert sorted(r["s"] for r in df5.collect()) == [
        "http://x/b", "http://x/c"]
    # BIND over a never-bound var: the alias stays unbound
    df6 = query(g, 'SELECT ?s ?b WHERE { ?s <http://p/t> ?o . '
                   'BIND(UCASE(?zzz) AS ?b) } ORDER BY ?s')
    assert [r["b"] for r in df6.collect()] == [None, None, None]


def test_exists_optional_filters_see_outer_scope(spark):
    """Substitution semantics (review r4): a FILTER inside EXISTS /
    NOT EXISTS / OPTIONAL referencing variables bound only in the
    enclosing group correlates the join; the MINUS right side must NOT
    see outer bindings (§8.3 — the famous MINUS vs NOT-EXISTS split);
    a UNION branch doing it raises loudly."""
    rows = [("http://x/a", "http://p/v", "one", "literal", None, None),
            ("http://x/b", "http://p/v", "two", "literal", None, None),
            ("http://x/t", "http://p/w", "one", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        FILTER EXISTS { ?t <http://p/w> ?w . FILTER(?w = ?o) } }""")
    assert [r["s"] for r in df.collect()] == ["http://x/a"]
    df2 = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        FILTER NOT EXISTS { ?t <http://p/w> ?w . FILTER(?w = ?o) } }""")
    assert [r["s"] for r in df2.collect()] == ["http://x/b"]
    df3 = query(g, """SELECT ?s ?w WHERE { ?s <http://p/v> ?o .
        OPTIONAL { ?t <http://p/w> ?w . FILTER(?w = ?o) } } ORDER BY ?s""")
    assert [(r["s"], r["w"]) for r in df3.collect()] == [
        ("http://x/a", "one"), ("http://x/b", None)]
    # MINUS right side: ?o unbound there -> filter error -> removes nothing
    df4 = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        MINUS { ?t <http://p/w> ?w . FILTER(?w = ?o) } }""")
    assert sorted(r["s"] for r in df4.collect()) == [
        "http://x/a", "http://x/b"]
    # UNION branches get strict bottom-up scoping (r5): ?o is unbound
    # inside the branch -> the filtered branch is empty, the plain
    # branch survives, and the union crosses with the outer solutions
    df5 = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        { ?t <http://p/w> ?w . FILTER(?w = ?o) }
        UNION { ?t <http://p/w> ?w } }""")
    assert sorted(r["s"] for r in df5.collect()) == [
        "http://x/a", "http://x/b"]


def test_plain_nested_group_filters_scope_strictly(spark):
    """Strict §18.2 bottom-up scoping (r5): a FILTER inside a plain
    nested {} or a GRAPH group evaluates enclosing-group variables as
    UNBOUND — comparison errors to false (empty subgroup), !BOUND is
    true (subgroup passes whole) — matching reference engines."""
    rows = [("http://x/a", "http://p/v", "one", "literal", None, None),
            ("http://x/b", "http://p/v", "two", "literal", None, None),
            ("http://x/a", "http://p/w", "one", "literal", None, None),
            ("http://x/b", "http://p/w", "two", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    # lenient semantics would keep only the matching (?w = ?o) pairs;
    # strict: ?o unbound inside the subgroup -> error -> false -> the
    # subgroup is EMPTY -> the whole query returns nothing
    df = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        { ?s <http://p/w> ?w . FILTER(?w = ?o) } }""")
    assert df.count() == 0
    # the filter tolerating unbound: !BOUND(?o) is TRUE inside -> the
    # subgroup keeps all rows and the join proceeds normally
    df2 = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        { ?s <http://p/w> ?w . FILTER(!BOUND(?o)) } } ORDER BY ?s""")
    assert [r["s"] for r in df2.collect()] == ["http://x/a", "http://x/b"]
    # same variable bound INSIDE the subgroup still filters normally
    df3 = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        { ?s <http://p/w> ?w . FILTER(?w = "one") } }""")
    assert [r["s"] for r in df3.collect()] == ["http://x/a"]
    # OPTIONAL keeps its spec-sanctioned substitution (unchanged)
    df4 = query(g, """SELECT ?s ?w WHERE { ?s <http://p/v> ?o .
        OPTIONAL { ?s <http://p/w> ?w . FILTER(?w = ?o) } } ORDER BY ?s""")
    assert [(r["s"], r["w"]) for r in df4.collect()] == [
        ("http://x/a", "one"), ("http://x/b", "two")]


def test_graph_group_filters_scope_strictly(spark):
    """GRAPH groups also evaluate enclosing variables as unbound."""
    rows = [("http://x/a", "http://p/v", "one", "literal", None, None,
             None),
            ("http://x/a", "http://p/w", "one", "literal", None, None,
             "http://g/1")]
    g = spark.createDataFrame(
        rows,
        "subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string, graph string")
    df = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        GRAPH <http://g/1> { ?s <http://p/w> ?w . FILTER(?w = ?o) } }""")
    assert df.count() == 0
    df2 = query(g, """SELECT ?s WHERE { ?s <http://p/v> ?o .
        GRAPH <http://g/1> { ?s <http://p/w> ?w .
                            FILTER(!BOUND(?o)) } }""")
    assert [r["s"] for r in df2.collect()] == ["http://x/a"]


def test_undef_nullability_crosses_subgroup_boundaries(spark):
    """(review r4) UNDEF-produced NULLs keep §10.2 compatibility when
    they arrive FROM a subgroup: a nested group opening with VALUES
    UNDEF, and an UNDEF row on the MINUS right side."""
    rows = [("http://x/a", "http://p/t", "T1", "literal", None, None),
            ("http://x/a", "http://p/q", "x", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    # right-side UNDEF: {m:"x"} is §8.3-compatible with (a, x) -> removed
    df = query(g, """SELECT ?s ?m WHERE { ?s <http://p/t> ?t .
        ?s <http://p/q> ?m . MINUS { VALUES (?s ?m) { (UNDEF "x") } } }""")
    assert df.count() == 0
    # nested group's UNDEF ?s compat-joins the following pattern
    df2 = query(g, """SELECT ?s ?m WHERE {
        { VALUES (?s ?m) { (UNDEF "x") } } ?s <http://p/q> ?m . }""")
    assert [(r["s"], r["m"]) for r in df2.collect()] == [
        ("http://x/a", "x")]
    # UNDEF inside EXISTS right side: compat keeps the match
    df3 = query(g, """SELECT ?s WHERE { ?s <http://p/q> ?m .
        FILTER EXISTS { VALUES (?s ?m) { (UNDEF "x") } } }""")
    assert [r["s"] for r in df3.collect()] == ["http://x/a"]


def test_empty_constructor_args_raise_sparql_error(spark, graph):
    """(review r4) IRI()/SHA256() with empty parentheses must raise
    SparqlError, not leak a Spark ParseException."""
    for bad in ["SELECT ?s WHERE { ?s ?p ?o . BIND(IRI() AS ?x) }",
                "SELECT ?s WHERE { ?s ?p ?o . BIND(STRLANG() AS ?x) }",
                "SELECT ?s WHERE { ?s ?p ?o . FILTER(SHA256() = \"z\") }"]:
        with pytest.raises(SparqlError):
            query(graph, bad)


def test_describe_follows_blank_node_closure(spark):
    """DESCRIBE returns the Concise Bounded Description: blank-node
    objects are chased recursively (a [...] property-list structure
    comes back whole); IRIs are never chased; unrelated blanks are
    excluded."""
    from trident_spark.query.sparql import describe

    rows = [
        ("http://x/r", "http://p/a", "_:b1", "blank", None, None),
        ("_:b1", "http://p/b", "_:b2", "blank", None, None),
        ("_:b2", "http://p/c", "leaf", "literal", None, None),
        # IRI object: described resource links out, target NOT chased
        ("http://x/r", "http://p/d", "http://x/other", "iri", None, None),
        ("http://x/other", "http://p/e", "nope", "literal", None, None),
        # unrelated blank structure
        ("_:z1", "http://p/f", "island", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    got = {tuple(r) for r in describe(g, "DESCRIBE <http://x/r>").collect()}
    assert got == {
        ("http://x/r", "http://p/a", "_:b1", "blank"),
        ("_:b1", "http://p/b", "_:b2", "blank"),
        ("_:b2", "http://p/c", "leaf", "literal"),
        ("http://x/r", "http://p/d", "http://x/other", "iri"),
    }


def test_distinct_aggregates_and_group_concat_separator(spark):
    """SUM/AVG(DISTINCT ?x), MIN/MAX with redundant DISTINCT, and
    GROUP_CONCAT(?x; SEPARATOR="..") incl. the DISTINCT form."""
    rows = [("http://x/a", "http://p/n", "2", "literal", None, None),
            ("http://x/b", "http://p/n", "2", "literal", None, None),
            ("http://x/c", "http://p/n", "3", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT (SUM(DISTINCT ?o) AS ?sd) (AVG(DISTINCT ?o) AS ?ad)
        (MIN(DISTINCT ?o) AS ?mn) (COUNT(DISTINCT ?o) AS ?cd)
        WHERE { ?s <http://p/n> ?o }""")
    r = df.first()
    assert float(r["sd"]) == 5.0 and float(r["ad"]) == 2.5
    assert r["mn"] == "2" and r["cd"] == 2
    df2 = query(g, """SELECT (GROUP_CONCAT(?o; SEPARATOR="|") AS ?c)
        (GROUP_CONCAT(DISTINCT ?o; SEPARATOR=", ") AS ?cdm)
        WHERE { ?s <http://p/n> ?o }""")
    r2 = df2.first()
    assert r2["c"] == "2|2|3"
    assert r2["cdm"] == "2, 3"


def test_having_aggregate_not_in_select(spark):
    """HAVING may filter on aggregates that do NOT appear in SELECT —
    they compute as hidden columns and drop after filtering."""
    rows = [("http://x/a", "http://p/n", "1", "literal", None, None),
            ("http://x/a", "http://p/n", "5", "literal", None, None),
            ("http://x/b", "http://p/n", "2", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?s (COUNT(?o) AS ?c) WHERE {
        ?s <http://p/n> ?o } GROUP BY ?s HAVING (SUM(?o) > 3)""")
    assert [tuple(r) for r in df.collect()] == [("http://x/a", 2)]
    assert df.columns == ["s", "c"]  # hidden SUM column dropped
    # still works when the HAVING aggregate also appears in SELECT
    df2 = query(g, """SELECT ?s (SUM(?o) AS ?t) WHERE {
        ?s <http://p/n> ?o } GROUP BY ?s HAVING (SUM(?o) > 3)""")
    assert [(r["s"], float(r["t"])) for r in df2.collect()] == [
        ("http://x/a", 6.0)]


def test_order_by_aggregate_expression(spark):
    """ORDER BY DESC(COUNT(?o)) / SUM(?o): aggregate sort keys rewrite
    to (hidden, dropped-after-sort) aggregate columns; a key matching a
    SELECT aggregate reuses its alias."""
    rows = [("http://x/a", "http://p/n", "1", "literal", None, None),
            ("http://x/a", "http://p/n", "5", "literal", None, None),
            ("http://x/a", "http://p/n", "6", "literal", None, None),
            ("http://x/b", "http://p/n", "9", "literal", None, None),
            ("http://x/b", "http://p/n", "2", "literal", None, None),
            ("http://x/c", "http://p/n", "100", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?s WHERE { ?s <http://p/n> ?o }
        GROUP BY ?s ORDER BY DESC(COUNT(?o))""")
    assert [r["s"] for r in df.collect()] == [
        "http://x/a", "http://x/b", "http://x/c"]
    assert df.columns == ["s"]
    df2 = query(g, """SELECT ?s (COUNT(?o) AS ?n) WHERE {
        ?s <http://p/n> ?o } GROUP BY ?s ORDER BY DESC(SUM(?o)) ?s""")
    assert [r["s"] for r in df2.collect()] == [
        "http://x/c", "http://x/a", "http://x/b"]
    assert df2.columns == ["s", "n"]


def test_select_expression_over_aggregates(spark):
    """(expr AS ?v) projections may contain aggregate calls — they
    rewrite to hidden aggregates and compute post-aggregation; plain
    expressions over group keys work in the same query."""
    rows = [("http://x/a", "http://p/n", "1", "literal", None, None),
            ("http://x/a", "http://p/n", "5", "literal", None, None),
            ("http://x/b", "http://p/n", "2", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?s (COUNT(?o) * 2 AS ?c2)
        (STRLEN(?s) AS ?l) WHERE { ?s <http://p/n> ?o }
        GROUP BY ?s ORDER BY ?s""")
    got = [(r["s"], int(r["c2"]), r["l"]) for r in df.collect()]
    assert got == [("http://x/a", 4, 10), ("http://x/b", 2, 10)]
    # group-less: SELECT over the whole solution set
    df2 = query(g, 'SELECT (SUM(?o) / COUNT(?o) AS ?mean) '
                   'WHERE { ?s <http://p/n> ?o }')
    assert abs(float(df2.first()["mean"]) - 8.0 / 3) < 1e-9


def test_negated_property_set_with_inverse_members(spark):
    """§18.4: !(p|^q) splits into the forward NPS union the inverse of
    the inverse-set NPS; !^p is the inverse-only form."""
    rows = [("http://x/a", "http://p/1", "http://x/b", "iri", None, None),
            ("http://x/a", "http://p/2", "http://x/c", "iri", None, None),
            ("http://x/d", "http://p/3", "http://x/a", "iri", None, None)]
    g = spark.createDataFrame(rows, COLS)
    # !^p3 from a: reverse edges into a with pred != p3 -> none
    df = query(g, 'SELECT ?o WHERE { <http://x/a> !^<http://p/3> ?o }')
    assert df.count() == 0
    # !^p1 from a: reverse edges into a with pred != p1 -> d (via p3)
    df2 = query(g, 'SELECT ?o WHERE { <http://x/a> !(^<http://p/1>) ?o }')
    assert [r["o"] for r in df2.collect()] == ["http://x/d"]
    # mixed: forward preds != p1 (-> c via p2) UNION reverse preds != p2
    # (-> d via p3)
    df3 = query(g, """SELECT ?o WHERE {
        <http://x/a> !(<http://p/1>|^<http://p/2>) ?o }""")
    assert sorted(r["o"] for r in df3.collect()) == [
        "http://x/c", "http://x/d"]
    # plain forward NPS unchanged
    df4 = query(g, 'SELECT ?o WHERE { <http://x/a> !<http://p/1> ?o }')
    assert [r["o"] for r in df4.collect()] == ["http://x/c"]


def test_trailing_values_clause(spark):
    """§10.2.2: a VALUES clause after the WHERE group joins the query
    solutions — including multi-var rows and UNDEF wildcards."""
    rows = [("http://x/a", "http://p/n", "one", "literal", None, None),
            ("http://x/b", "http://p/n", "two", "literal", None, None),
            ("http://x/c", "http://p/n", "three", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, 'SELECT ?s WHERE { ?s <http://p/n> ?o } '
                  'VALUES ?o { "one" "three" }')
    assert sorted(r["s"] for r in df.collect()) == [
        "http://x/a", "http://x/c"]
    df2 = query(g, """SELECT ?s ?m WHERE { ?s <http://p/n> ?o }
        VALUES (?o ?m) { ("one" "m1") (UNDEF "wild") }""")
    got = {(r["s"], r["m"]) for r in df2.collect()}
    assert got == {("http://x/a", "m1"), ("http://x/a", "wild"),
                   ("http://x/b", "wild"), ("http://x/c", "wild")}
    # modifiers still parse before the clause
    df3 = query(g, 'SELECT ?s WHERE { ?s <http://p/n> ?o } '
                   'ORDER BY ?s LIMIT 5 VALUES ?o { "two" }')
    assert [r["s"] for r in df3.collect()] == ["http://x/b"]
    with pytest.raises(SparqlError, match="end the query"):
        query(g, 'SELECT ?s WHERE { ?s <http://p/n> ?o } '
                 'VALUES ?o { "one" } LIMIT 2')


def test_group_by_expression(spark):
    """GROUP BY (expr AS ?k): computed keys group and project; the
    alias-less (expr) form groups without projecting."""
    rows = [("http://x/a", "http://p/n", "apple", "literal", None, None),
            ("http://x/b", "http://p/n", "avocado", "literal", None, None),
            ("http://x/c", "http://p/n", "banana", "literal", None, None)]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """SELECT ?k (COUNT(?s) AS ?n) WHERE {
        ?s <http://p/n> ?o } GROUP BY (SUBSTR(?o, 1, 1) AS ?k)
        ORDER BY ?k""")
    assert [tuple(r) for r in df.collect()] == [("a", 2), ("b", 1)]
    df2 = query(g, """SELECT (COUNT(?s) AS ?n) WHERE {
        ?s <http://p/n> ?o } GROUP BY (SUBSTR(?o, 1, 1)) ORDER BY DESC(?n)""")
    assert [r["n"] for r in df2.collect()] == [2, 1]
    assert df2.columns == ["n"]


# ---------------------------------------------------------------------------
# r5: full RDF literal term identity — language tags and datatypes are part
# of the match key for literal constants (patterns, quoted triples, DATA
# blocks, the encoded engine) and flow through CONSTRUCT/UPDATE templates
# ---------------------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.fixture(scope="module")
def lit_graph(spark):
    rows = [
        ("http://s/1", "http://p/n", "hello", "literal", None, "en-US"),
        ("http://s/2", "http://p/n", "hello", "literal", None, "fr"),
        ("http://s/3", "http://p/n", "hello", "literal", None, None),
        ("http://s/4", "http://p/n", "hello", "literal", XSD + "string", None),
        ("http://s/5", "http://p/n", "hello", "literal", XSD + "token", None),
        ("http://s/6", "http://p/n", "http://s/1", "iri", None, None),
    ]
    return spark.createDataFrame(rows, COLS).cache()


def test_literal_constant_lang_match(spark, lit_graph):
    # BCP 47 tags compare case-insensitively
    df = query(lit_graph,
               'SELECT ?s WHERE { ?s <http://p/n> "hello"@en-us . }')
    assert [r.s for r in df.collect()] == ["http://s/1"]


def test_literal_constant_plain_is_simple_literal(spark, lit_graph):
    # a plain "x" is a simple literal ≡ xsd:string (RDF 1.1) — it must NOT
    # match lang-tagged or otherwise-typed literals with the same lexical
    df = query(lit_graph, 'SELECT ?s WHERE { ?s <http://p/n> "hello" . }')
    assert sorted(r.s for r in df.collect()) == ["http://s/3", "http://s/4"]


def test_literal_constant_datatype_match(spark, lit_graph):
    df = query(lit_graph, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s <http://p/n> "hello"^^xsd:token . }""")
    assert [r.s for r in df.collect()] == ["http://s/5"]
    df2 = query(lit_graph, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s <http://p/n> "hello"^^xsd:string . }""")
    assert sorted(r.s for r in df2.collect()) == ["http://s/3", "http://s/4"]


def test_literal_match_without_metadata_columns_is_lexical(spark):
    # frames that record no lang/datatype keep the historical lexical match
    rows = [("http://s/1", "http://p/n", "hello", "literal")]
    g = spark.createDataFrame(
        rows, "subj string, pred string, obj_lexical string, obj_kind string")
    df = query(g, 'SELECT ?s WHERE { ?s <http://p/n> "hello"@en . }')
    assert df.count() == 1


def test_update_delete_data_term_identity(spark, lit_graph):
    from trident_spark.query.sparql import update

    out = update(lit_graph,
                 'DELETE DATA { <http://s/1> <http://p/n> "hello"@en-US . }')
    assert out.count() == 5
    assert out.where(out.subj == "http://s/1").count() == 0
    # plain deletes simple + xsd:string forms, not lang/other-typed rows
    out = update(lit_graph, """DELETE DATA {
        <http://s/3> <http://p/n> "hello" .
        <http://s/4> <http://p/n> "hello" . }""")
    assert out.count() == 4
    # a datatype that does not match deletes nothing
    out = update(lit_graph, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        DELETE DATA { <http://s/5> <http://p/n> "hello"^^xsd:short . }""")
    assert out.count() == 6


def test_update_insert_data_carries_type_and_lang(spark, lit_graph):
    from trident_spark.query.sparql import update

    out = update(lit_graph, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT DATA {
            <http://s/9> <http://p/n> "42"^^xsd:integer .
            <http://s/9> <http://p/m> "bonjour"@fr .
        }""")
    rows = {(r.pred, r.obj_datatype, r.obj_lang)
            for r in out.where(out.subj == "http://s/9").collect()}
    assert rows == {("http://p/n", XSD + "integer", None),
                    ("http://p/m", None, "fr")}


def test_construct_carries_literal_metadata(spark, lit_graph):
    from trident_spark.query.sparql import construct

    c = construct(lit_graph, """
        CONSTRUCT { ?s <http://p/m> ?o }
        WHERE { ?s <http://p/n> ?o . FILTER(isLiteral(?o)) }""")
    assert c.columns == ["subj", "pred", "obj_lexical", "obj_kind",
                         "obj_datatype", "obj_lang"]
    got = sorted((r.subj, r.obj_datatype or "-", r.obj_lang or "-")
                 for r in c.collect())
    # "hello"^^xsd:string is the simple literal "hello": one term, which
    # a binding carries in its canonical form, with no datatype
    assert got == [("http://s/1", "-", "en-US"), ("http://s/2", "-", "fr"),
                   ("http://s/3", "-", "-"), ("http://s/4", "-", "-"),
                   ("http://s/5", XSD + "token", "-")]
    # constants in the template carry their own tags
    c2 = construct(lit_graph, """
        CONSTRUCT { ?s <http://p/t> "tagged"@en-GB }
        WHERE { ?s <http://p/n> "hello"@fr }""")
    r = c2.collect()[0]
    assert (r.obj_lang, r.obj_datatype) == ("en-GB", None)


def test_update_template_preserves_binding_metadata(spark, lit_graph):
    from trident_spark.query.sparql import update

    # copy every literal to a new predicate: lang/datatype must survive
    out = update(lit_graph, """
        DELETE { ?s <http://p/n> ?o }
        INSERT { ?s <http://p/archived> ?o }
        WHERE { ?s <http://p/n> ?o . FILTER(isLiteral(?o)) }""")
    # only the IRI-object row escapes the isLiteral() WHERE filter
    left = out.where(out.pred == "http://p/n").collect()
    assert [r.subj for r in left] == ["http://s/6"]
    # s/4's "hello"^^xsd:string is s/3's simple literal: one term, in
    # its canonical form
    rows = {(r.subj, r.obj_datatype or "-", r.obj_lang or "-")
            for r in out.where(out.pred == "http://p/archived").collect()}
    assert rows == {("http://s/1", "-", "en-US"), ("http://s/2", "-", "fr"),
                    ("http://s/3", "-", "-"), ("http://s/4", "-", "-"),
                    ("http://s/5", XSD + "token", "-")}


def test_encoded_literal_constant_term_identity(spark):
    from trident_spark.pipeline.kg import encode_triples
    from trident_spark.query.sparql import query_encoded

    rows = [
        ("u", None, "s", "http://s/1", "http://p/n", "hello", "literal",
         None, "en-US"),
        ("u", None, "s", "http://s/2", "http://p/n", "hello", "literal",
         None, "fr"),
        ("u", None, "s", "http://s/3", "http://p/n", "hello", "literal",
         None, None),
        ("u", None, "s", "http://s/5", "http://p/n", "hello", "literal",
         XSD + "token", None),
    ]
    sk = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, source string, subj string, "
              "pred string, obj_lexical string, obj_kind string, "
              "obj_datatype string, obj_lang string")
    terms, edges = encode_triples(sk)
    # a tagged constant looks its ids up in the dictionary with the tags
    # lowercased on both sides, as query() compares them, so any case
    # variant finds the stored en-US id
    df = query_encoded(edges, terms,
                       'SELECT ?s WHERE { ?s <http://p/n> "hello"@EN-us . }')
    assert [r.s for r in df.collect()] == ["http://s/1"]
    df = query_encoded(edges, terms, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s <http://p/n> "hello"^^xsd:token . }""")
    assert [r.s for r in df.collect()] == ["http://s/5"]


def test_quoted_triple_literal_constant_lang(spark):
    rows = [
        ("_:r1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies",
         '<<( <http://s/1> <http://p/n> "hello"@en )>>', "triple",
         None, None),
        ("_:r2", "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies",
         '<<( <http://s/2> <http://p/n> "hello"@fr )>>', "triple",
         None, None),
        ("_:r3", "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies",
         '<<( <http://s/3> <http://p/n> "hello" )>>', "triple",
         None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    df = query(g, """
        SELECT ?d WHERE {
            ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
               <<( ?d <http://p/n> "hello"@EN )>> .
        }""")
    assert [r.d for r in df.collect()] == ["http://s/1"]
    df = query(g, """
        SELECT ?d WHERE {
            ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
               <<( ?d <http://p/n> "hello" )>> .
        }""")
    assert [r.d for r in df.collect()] == ["http://s/3"]


def test_query_encoded_dirlang_constant(spark):
    """A dir-lang constant ("x"@EN-US--LTR) matches the tag that
    normalize_literal_langs stored, compared case-insensitively, and both
    engines agree."""
    from trident_spark.pipeline.kg import (encode_triples,
                                           normalize_literal_langs)
    from trident_spark.query.sparql import query, query_encoded

    lexical = spark.createDataFrame(
        [("http://x/s1", "http://p/n", "shalom", "literal", None,
          "EN-us--ltr", "http://x/s1", None, "test"),
         ("http://x/s2", "http://p/n", "shalom", "literal", None,
          "he", "http://x/s2", None, "test")],
        "subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string, url string, "
        "warc_ts timestamp, source string")
    lexical = normalize_literal_langs(lexical)
    terms, edges = encode_triples(lexical)
    for q, want in [
        ('SELECT ?s WHERE { ?s <http://p/n> "shalom"@EN-US--LTR }',
         {("http://x/s1",)}),
        ('SELECT ?s WHERE { ?s <http://p/n> "shalom"@he }',
         {("http://x/s2",)}),
        ('SELECT ?s WHERE { ?s <http://p/n> "shalom"@en-us }', set()),
    ]:
        lex = {tuple(r) for r in query(lexical, q).collect()}
        enc = {tuple(r) for r in query_encoded(edges, terms, q).collect()}
        assert lex == enc == want, q


def test_delete_data_lang_tag_case_insensitive(spark):
    """r5 review fix: DELETE DATA with a non-canonical language tag
    ("x"@en-us vs stored canonical en-US) must still delete the row —
    BCP 47 tags compare case-insensitively on every match path."""
    from trident_spark.query.sparql import update

    rows = [("http://x/s", "http://p/n", "x", "literal", None, "en-US"),
            ("http://x/s", "http://p/n", "x", "literal", None, None),
            ("http://x/s", "http://p/n", "keep", "literal", None, "fr")]
    g = spark.createDataFrame(rows, COLS)
    out = update(g, 'DELETE DATA { <http://x/s> <http://p/n> "x"@en-us }')
    left = {(r["obj_lexical"], r["obj_lang"]) for r in out.collect()}
    # the tagged twin is gone; the PLAIN "x" and the fr row survive
    assert left == {("x", None), ("keep", "fr")}


def test_graph_construct_preserves_literal_metadata(spark):
    """r5 review fix: Graph.construct() must carry the template's
    datatype/lang through to the new Graph (serialize keeps @lang)."""
    from trident_spark.graph import Graph

    rows = [("http://x/s", "http://p/n", "hola", "literal", None, "es")]
    g = Graph(spark.createDataFrame(rows, COLS))
    out = g.construct("""
        CONSTRUCT { ?s <http://p/label> "indexed"@en }
        WHERE { ?s <http://p/n> ?o }
    """)
    ser = out.serialize("ntriples")
    assert '"indexed"@en' in ser


def test_query_encoded_optional_differential(spark, encoded_kg):
    """r5: trailing OPTIONAL in the warehouse engine — left join on id
    keys, NULL ids decode to unbound — must match the lexical engine on
    every shape it accepts."""
    edges, terms, lexical = encoded_kg
    # classic analytics shape: every typed subject, name when present
    _differential(lexical, edges, terms, _PFX + """
        SELECT ?s ?t ?n WHERE {
            ?s a ?t . OPTIONAL { ?s schema:name ?n }
        }""")
    # two independent OPTIONALs (no shared introduced vars)
    _differential(lexical, edges, terms, _PFX + """
        SELECT ?s ?n ?u WHERE {
            ?s a schema:Person .
            OPTIONAL { ?s schema:name ?n }
            OPTIONAL { ?s schema:url ?u }
        }""")
    # OPTIONAL var consumed by the tail: BOUND filter + aggregate
    _differential(lexical, edges, terms, _PFX + """
        SELECT ?t (COUNT(?n) AS ?named) WHERE {
            ?s a ?t . OPTIONAL { ?s schema:name ?n }
        } GROUP BY ?t""")
    _differential(lexical, edges, terms, _PFX + """
        SELECT ?s WHERE {
            ?s a schema:Person . OPTIONAL { ?s schema:name ?n }
            FILTER(!BOUND(?n))
        }""")


def test_query_encoded_optional_scan_stays_id_only(spark, encoded_kg):
    from trident_spark.query.sparql import query_encoded

    edges, terms, _ = encoded_kg
    df = query_encoded(edges, terms, _PFX + """
        SELECT ?s ?n WHERE {
            ?s a schema:Person . OPTIONAL { ?s schema:name ?n }
        }""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every edge-table scan must read only the three id columns
    import re as _re
    for m in _re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        if cols & {"subj_id", "pred_id", "obj_id"}:
            assert cols <= {"subj_id", "pred_id", "obj_id"}, cols
    assert df.count() > 0


def test_decode_triples_round_trips_encode(spark, encoded_kg):
    """r5: decode_triples(encode_triples(g)) == g on the 6 lexical
    columns (as a set — the KG is a set of triples), so the CLI's
    lexical fallback answers over exactly the encoded engine's graph."""
    from trident_spark.pipeline.kg import decode_triples

    edges, terms, lexical = encoded_kg
    dec = decode_triples(edges, terms)
    cols = ["subj", "pred", "obj_lexical", "obj_kind",
            "obj_datatype", "obj_lang"]
    want = {tuple(r) for r in lexical.select(*cols).distinct().collect()}
    got = {tuple(r) for r in dec.select(*cols).collect()}
    assert got == want
    # ADVICE r5: the inner dictionary joins must not drop edges — decode
    # row count equals edge count (no dangling term_id by construction)
    assert dec.count() == edges.count()


def test_id_runs_hash_like_the_warehouse(spark):
    """One term-id space: the lexical engine's id-run expressions, applied
    to the decoded graph, reproduce the stored edge ids row for row —
    lang-tagged and typed literals included."""
    import datetime
    import json

    from trident_spark.pipeline import build_kg
    from trident_spark.pipeline.kg import decode_triples
    from trident_spark.pipeline.pages import PAGES_SCHEMA, pages_df
    from trident_spark.query.sparql import _id_edges

    node = {"@context": "https://schema.org", "@id": "http://x.example/a",
            "@type": "Person",
            "name": {"@value": "Ada", "@language": "EN-gb"},
            "description": {"@value": "hallo", "@language": "de"},
            "birthDate": {"@value": "1815-12-10", "@type":
                          "http://www.w3.org/2001/XMLSchema#date"}}
    html = ('<html><head><script type="application/ld+json">'
            + json.dumps(node) + "</script></head><body></body></html>")
    tagged = spark.createDataFrame(
        [("http://x.example/a", datetime.datetime(2024, 1, 1),
          html.encode(), "", "en")], PAGES_SCHEMA)
    result = build_kg(pages_df(spark, 10).unionByName(tagged), alias_dict=None)
    edges = result.triples.localCheckpoint(eager=True)
    dec = decode_triples(edges, result.terms)
    assert dec.where("obj_lang IS NOT NULL").count() == 2
    assert dec.where("obj_datatype IS NOT NULL").count() > 0
    got = _id_edges(dec)
    want = edges.select("subj_id", "pred_id", "obj_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_lexical_over_decoded_graph_matches_encoded(spark, encoded_kg):
    """CLI parity: query(decode_triples(...)) and query_encoded(...) give
    identical answers — incl. a shape only the lexical engine supports
    having the same data under it."""
    from trident_spark.pipeline.kg import decode_triples
    from trident_spark.query.sparql import query, query_encoded

    edges, terms, _ = encoded_kg
    dec = decode_triples(edges, terms)
    sparql = _PFX + """
        SELECT ?s ?n WHERE {
            ?s a schema:Person . OPTIONAL { ?s schema:name ?n }
        }"""
    want = {tuple(r) for r in query_encoded(edges, terms, sparql).collect()}
    got = {tuple(r) for r in query(dec, sparql).collect()}
    assert got == want and got


def test_query_encoded_optional_order_guards(spark, encoded_kg):
    """A required pattern that follows an OPTIONAL sharing a variable it
    introduces is a compatibility join, and an OPTIONAL behind a leading
    FILTER is still first: both engines agree on each."""
    from trident_spark.query.sparql import query, query_encoded

    edges, terms, lexical = encoded_kg
    # required pattern after an OPTIONAL, sharing its introduced ?n
    _differential(lexical, edges, terms, _PFX + """SELECT ?s ?n WHERE {
        ?s a schema:Person . OPTIONAL { ?s schema:name ?n }
        ?s schema:url ?n }""")
    # leading FILTER must not bypass the OPTIONAL-first guard
    q2 = _PFX + """SELECT ?s ?t WHERE {
        FILTER(true) OPTIONAL { ?s schema:name ?o } ?s a ?t }"""
    with pytest.raises(SparqlError, match="first pattern"):
        query_encoded(edges, terms, q2)
    with pytest.raises(SparqlError, match="first pattern"):
        query(lexical, q2).collect()
    # a shared var already bound BEFORE the OPTIONAL stays supported
    # (not "introduced" by it), and the required pattern may follow
    _differential(lexical, edges, terms, _PFX + """
        SELECT ?s ?n WHERE {
            ?s a schema:Person . ?s schema:name ?n .
            OPTIONAL { ?s schema:name ?n }
            ?s a schema:Person }""")


def test_query_encoded_optional_differential_fuzz(spark, encoded_kg):
    """The warehouse scans are a fast path of query(): gate them with a
    randomized differential over element ORDER and variable sharing.  Per
    shape both engines raise, or both answer the same multiset."""
    import random

    edges, terms, lexical = encoded_kg
    rng = random.Random(7)
    PREDS = ["schema:name", "schema:url", "schema:worksFor",
             "schema:jobTitle"]
    VARS = ["?a", "?b", "?c", "?d"]

    def rand_pat(rng):
        s = rng.choice(VARS)
        if rng.random() < 0.3:
            return f"{s} a schema:Person ."
        o = rng.choice(VARS + [VARS[0]])
        return f"{s} {rng.choice(PREDS)} {o} ."

    checked = 0
    for _ in range(14):
        els = [rand_pat(rng) for _ in range(rng.randint(1, 2))]
        els += [f"OPTIONAL {{ {rand_pat(rng)} }}"
                for _ in range(rng.randint(0, 2))]
        # vars to project: only those bound by patterns (a filter-only
        # var is never bindable); collect BEFORE adding filters
        vs = sorted({t for e in els for t in e.split()
                     if t.startswith("?")})
        els += [rng.choice([f"FILTER(BOUND({rng.choice(VARS)}))",
                            f"FILTER(!BOUND({rng.choice(VARS)}))",
                            "FILTER(true)"])
                for _ in range(rng.randint(0, 1))]
        rng.shuffle(els)
        q = _PFX + "SELECT " + " ".join(vs) + \
            " WHERE { " + " ".join(els) + " }"
        if _differential(lexical, edges, terms, q,
                         raises=None) is not SparqlError:
            checked += 1
    assert checked >= 4  # the fuzz actually exercised the fast path
