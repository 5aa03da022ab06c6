"""Differential fuzz for the id-join BGP engine: every generated query
must return the identical solution set with BGP id-runs enabled and
disabled (pure single-pattern lexical compilation), and on the
dictionary-encoded warehouse (``query_encoded``).

The fuzz graph deliberately contains NO iri/literal lexical collisions:
on collisions the two paths legitimately differ — the id path joins on
term identity (a literal "x" never matches an IRI "x"), which is the
SPARQL-correct semantics, while the lexical single-pattern path joins on
the lexical form alone (a 100-query run on a collision-dense graph shows
the lexical path emitting extra rows in ~10% of shared-subject/object-var
queries, all term confusions).  test_cross_pattern_term_identity below
pins the CORRECT behavior explicitly.

Property-path closures are checked against an independent oracle: a
plain Python graph search over the input rows."""

import random
from collections import Counter

import pytest

from trident_spark.query import sparql as S

COLS = ("subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string")


@pytest.fixture(scope="module")
def fuzz_graph(spark):
    rng = random.Random(17)
    nodes = [f"http://f/n{i}" for i in range(12)]
    preds = [f"http://f/p{i}" for i in range(4)]
    rows = set()
    for _ in range(150):
        s = rng.choice(nodes)
        p = rng.choice(preds)
        r = rng.random()
        if r < 0.6:
            rows.add((s, p, rng.choice(nodes), "iri", None, None))
        elif r < 0.8:
            # control-char literals fuzz the ECHAR decode paths (rule 8)
            rows.add((s, p, rng.choice(["v1", "v2", "v3", "a\nb", "t\tv"]),
                      "literal", None, None))
        elif r < 0.9:
            # lang-tagged literals (distinct lexical space: same-lexical
            # plain/tagged twins would legitimately diverge on VARIABLE
            # joins, where the lexical path joins on the form alone)
            rows.add((s, p, rng.choice(["lv1", "lv2"]), "literal", None,
                      rng.choice(["fr", "en", "en--ltr"])))
        else:
            rows.add((s, p, rng.choice(["dv1", "dv2"]), "literal",
                      "http://www.w3.org/2001/XMLSchema#token", None))
    return spark.createDataFrame(sorted(rows), COLS).cache()


def _gen_query(rng):
    vars_ = ["?a", "?b", "?c", "?d"]
    preds = [f"<http://f/p{i}>" for i in range(4)]
    nodes = [f"<http://f/n{i}>" for i in range(12)]
    n_pats = rng.randint(2, 4)
    pats = []
    for k in range(n_pats):
        s = rng.choice(vars_[: k + 1])
        p = rng.choice(preds + ["?p"])
        o = rng.choice(vars_ + nodes + [
            '"v1"', '"a\\nb"', '"t\\tv"',
            # full-term-identity constants: the plain forms of lv1/dv1
            # exist only tagged, so "lv1" must match NOTHING on both paths
            '"lv1"@fr', '"lv1"@FR', '"lv1"', '"lv2"@en--ltr',
            '"dv1"^^<http://www.w3.org/2001/XMLSchema#token>', '"dv1"'])
        pats.append(f"{s} {p} {o} .")
    used = sorted({t for pat in pats for t in pat.split()
                   if t.startswith("?")})
    proj = rng.sample(used, k=max(1, rng.randint(1, len(used))))
    filt = ""
    if rng.random() < 0.4 and proj:
        filt = f'FILTER(STR({proj[0]}) != "nope")'
    return (f"SELECT DISTINCT {' '.join(proj)} WHERE {{ "
            f"{' '.join(pats)} {filt} }}")


def test_id_runs_match_single_pattern_compilation(spark, fuzz_graph):
    rng = random.Random(99)
    for i in range(25):
        q = _gen_query(rng)
        try:
            S._ID_RUNS_ENABLED = False
            want = {tuple(r) for r in S.query(fuzz_graph, q).collect()}
        finally:
            S._ID_RUNS_ENABLED = True
        got = {tuple(r) for r in S.query(fuzz_graph, q).collect()}
        assert got == want, (q, len(got), len(want))


def test_warehouse_matches_lexical_compilation(spark, fuzz_graph):
    """query_encoded over the encoded fuzz graph answers every generated
    query like query() over the graph itself: its id scans filter literal
    constants of every form (plain, tagged in either case, typed)."""
    from pyspark.sql import functions as F

    from trident_spark.pipeline.kg import dedup_triples, encode_triples

    terms, edges = encode_triples(fuzz_graph.select(
        "*", F.lit("http://f/page").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("fuzz").alias("source")))
    edges = dedup_triples(edges).localCheckpoint(eager=True)
    terms = terms.localCheckpoint(eager=True)
    rng = random.Random(5)
    for _ in range(15):
        q = _gen_query(rng)
        want = Counter(tuple(r) for r in S.query(fuzz_graph, q).collect())
        got = Counter(tuple(r) for r in
                      S.query_encoded(edges, terms, q).collect())
        assert got == want, (q, got, want)


def test_cross_pattern_term_identity(spark):
    """A variable bound by a LITERAL object in one pattern must not join
    an IRI subject with the same lexical form — id-runs enforce term
    identity (SPARQL 18.1.8: solutions map variables to RDF terms)."""
    rows = [
        ("http://x/a", "http://p/ref", "http://x/b", "literal", None, None),
        ("http://x/b", "http://p/name", "B", "literal", None, None),
        ("http://x/a", "http://p/link", "http://x/b", "iri", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    # literal binding: ?o = literal "http://x/b" → must NOT reach b's name
    lit = S.query(g, """
        SELECT ?n WHERE {
            ?s <http://p/ref> ?o . ?o <http://p/name> ?n .
        }
    """)
    assert lit.collect() == []
    # iri binding: joins fine
    iri = S.query(g, """
        SELECT ?n WHERE {
            ?s <http://p/link> ?o . ?o <http://p/name> ?n .
        }
    """)
    assert [r["n"] for r in iri.collect()] == ["B"]


def test_run_literal_constant_full_term_identity(spark):
    """r5 regression: a literal CONSTANT inside a >=2-pattern id-run must
    match by full (lexical, lang, datatype) identity exactly like the
    single-pattern path — a plain "hello" never matches "hello"@fr."""
    rows = [
        ("http://x/s1", "http://p/n", "hello", "literal", None, "fr"),
        ("http://x/s1", "http://p/q", "y1", "literal", None, None),
        ("http://x/s2", "http://p/n", "hello", "literal", None, None),
        ("http://x/s2", "http://p/q", "y2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    # single pattern (slow path) and two-pattern run (id path) must agree
    for extra in ("", "?s <http://p/q> ?o ."):
        plain = S.query(g, f"""
            SELECT ?s WHERE {{ ?s <http://p/n> "hello" . {extra} }}
        """)
        assert [r["s"] for r in plain.collect()] == ["http://x/s2"], extra
        tagged = S.query(g, f"""
            SELECT ?s WHERE {{ ?s <http://p/n> "hello"@FR . {extra} }}
        """)
        assert [r["s"] for r in tagged.collect()] == ["http://x/s1"], extra


# ---------------------------------------------------------------------------
# property-path closures vs a plain graph search
# ---------------------------------------------------------------------------

T = "http://t/"
P, Q = f"<{T}p>", f"<{T}q>"
GRAPHS = (f"{T}g1", f"{T}g2")


def _path_quads(seed):
    """Seeded directed graph as (s, pred, o, graph) rows: two components,
    each with a p-diamond, a p-cycle and a p-self-loop, plus random p/q
    edges inside the component, spread over two named graphs."""
    rng = random.Random(seed)
    quads = set()
    for comp in "ab":
        n = [f"{T}{comp}{i}" for i in range(7)]
        fixed = [(n[0], n[1]), (n[0], n[2]), (n[1], n[3]), (n[2], n[3]),
                 (n[3], n[4]), (n[4], n[5]), (n[5], n[3]), (n[6], n[6])]
        extra = [(rng.choice(n), rng.choice(n)) for _ in range(8)]
        for k, (s, o) in enumerate(fixed + extra):
            pred = "p" if k < len(fixed) else rng.choice("pq")
            quads.add((s, T + pred, o, rng.choice(GRAPHS)))
    return sorted(quads)


def _reach(edges, start):
    """Nodes at the end of a walk of one or more steps from ``start``."""
    adj = {}
    for s, o in edges:
        adj.setdefault(s, set()).add(o)
    seen, todo = set(), [start]
    while todo:
        for nxt in adj.get(todo.pop(), ()):
            if nxt not in seen:
                seen.add(nxt)
                todo.append(nxt)
    return seen


@pytest.mark.parametrize("seed", [3, 11])
def test_property_path_closures_match_graph_search(spark, seed):
    quads = _path_quads(seed)

    def rel(pred, graph=None):
        return {(s, o) for s, p, o, g in quads
                if p == T + pred and graph in (None, g)}

    p, q = rel("p"), rel("q")
    inv_p = {(o, s) for s, o in p}
    p_q = {(s, o2) for s, m in p for m2, o2 in q if m == m2}
    triples = spark.createDataFrame(
        sorted({(s, pr, o, "iri", None, None) for s, pr, o, _ in quads}),
        COLS)
    quad_frame = spark.createDataFrame(
        [(s, pr, o, "iri", None, None, g) for s, pr, o, g in quads],
        COLS + ", graph string")
    nodes = sorted({s for s, *_ in quads} | {o for _, _, o, _ in quads})
    rng = random.Random(seed)

    def pick():
        return rng.choice(nodes + [f"{T}absent"])

    def rows(frame, body, names="?x"):
        df = S.query(frame, f"SELECT {names} WHERE {{ {body} }}")
        return {tuple(r) for r in df.collect()}

    c = pick()
    assert rows(triples, f"<{c}> {P}+ ?x") == {(x,) for x in _reach(p, c)}
    c = pick()
    assert rows(triples, f"?x {P}+ <{c}>") == {
        (x,) for x in _reach(inv_p, c)}
    for a, b in ((pick(), pick()), (nodes[0], nodes[3])):
        assert S.ask(triples, f"ASK {{ <{a}> {P}+ <{b}> }}") \
            == (b in _reach(p, a)), (a, b)
    c = pick()
    assert rows(triples, f"<{c}> {P}* ?x") == {
        (x,) for x in _reach(p, c) | {c}}
    c = pick()
    assert rows(triples, f"<{c}> ^{P}+ ?x") == {
        (x,) for x in _reach(inv_p, c)}
    c = pick()
    assert rows(triples, f"<{c}> ({P}|{Q})+ ?x") == {
        (x,) for x in _reach(p | q, c)}
    c = pick()
    assert rows(triples, f"<{c}> ({P}/{Q})+ ?x") == {
        (x,) for x in _reach(p_q, c)}
    c = pick()
    assert rows(quad_frame, f"GRAPH ?g {{ <{c}> {P}+ ?x }}", "?g ?x") == {
        (g, x) for g in GRAPHS for x in _reach(rel("p", g), c)}
    # no bound endpoint: the loop squares to a fixpoint
    assert rows(triples, f"?x {P}+ ?y", "?x ?y") == {
        (s, o) for s in nodes for o in _reach(p, s)}
