"""Differential fuzz for the BGP engine: every generated query must
return the bag of rows that an independent evaluator computes over the
fuzz rows (a plain Python BGP matcher with RDF term identity), through
``query`` over the rows and ``query_encoded`` over their
dictionary-encoded warehouse alike.

The fuzz graph holds IRI/literal lexical collisions (a literal
"http://f/n1" beside the IRI <http://f/n1>, a literal "_:b0" beside the
blank node), plain literals beside their xsd:string twins (one RDF
term), blank nodes in subject and object position, and repeated
captures of some triples; queries repeat variables inside a pattern and
place their FILTER anywhere in the group; a predicate may be a `/` or
`+` path, and a group may end in an OPTIONAL pattern.

Property-path closures are checked against an independent oracle: a
plain Python graph search over the input rows."""

import random
import re
from collections import Counter

import pytest

from trident_spark.query import sparql as S

COLS = ("subj string, pred string, obj_lexical string, obj_kind string, "
        "obj_datatype string, obj_lang string")
XSD = "http://www.w3.org/2001/XMLSchema#"
NODES = [f"http://f/n{i}" for i in range(8)] + ["_:b0", "_:b1"]


def _fuzz_rows():
    rng = random.Random(17)
    preds = [f"http://f/p{i}" for i in range(3)]
    rows = set()
    for _ in range(150):
        s = rng.choice(NODES)
        p = rng.choice(preds)
        r = rng.random()
        if r < 0.5:
            o = rng.choice(NODES)
            rows.add((s, p, o, "blank" if o.startswith("_:") else "iri",
                      None, None))
        elif r < 0.65:
            # control-char literals fuzz the ECHAR decode paths (rule 8).
            # Some have an xsd:string twin, the same term spelled the
            # other way, on the same subject or another one
            lit = rng.choice(["v1", "v2", "v3", "a\nb", "t\tv"])
            rows.add((s, p, lit, "literal", None, None))
            twin = rng.random()
            if twin < 0.4:
                rows.add((s if twin < 0.2 else rng.choice(NODES), p, lit,
                          "literal", XSD + "string", None))
        elif r < 0.8:
            # a literal whose lexical form is a node's: plain or anyURI
            rows.add((s, p, rng.choice(NODES[:4] + ["_:b0"]), "literal",
                      rng.choice([None, XSD + "anyURI"]), None))
        elif r < 0.9:
            rows.add((s, p, rng.choice(["lv1", "lv2"]), "literal", None,
                      rng.choice(["fr", "en", "en--ltr"])))
        else:
            rows.add((s, p, rng.choice(["dv1", "dv2"]), "literal",
                      XSD + "token", None))
    rows = sorted(rows, key=str)
    return rows + rows[:20]  # a second capture of some triples


@pytest.fixture(scope="module")
def fuzz_graph(spark):
    return spark.createDataFrame(_fuzz_rows(), COLS).cache()


_FILTERS = {
    "str": ('FILTER(STR({v}) != "nope")', lambda t: True),
    "iri": ("FILTER(isIRI({v}))", lambda t: t[0] == "iri"),
    "not_iri": ("FILTER(!isIRI({v}))", lambda t: t[0] != "iri"),
    "literal": ("FILTER(isLiteral({v}))", lambda t: t[0] == "literal"),
}


def _path_text(p):
    """A predicate: a token, ("seq", p, q) = p/q or ("plus", p) = p+."""
    if isinstance(p, str):
        return p
    return "/".join(p[1:]) if p[0] == "seq" else p[1] + "+"


def _gen_query(rng):
    """→ (SPARQL text, (patterns, OPTIONAL pattern or None, filter (var,
    test) or None, projection, distinct)) for one connected BGP, whose
    predicates may be `/` and `+` paths, with an optional OPTIONAL
    pattern and an optional FILTER anywhere."""
    vars_ = ["?a", "?b", "?c", "?d"]
    preds = [f"<http://f/p{i}>" for i in range(3)]
    nodes = [f"<{n}>" for n in NODES[:8]]
    pats: list[tuple] = []
    used: list[str] = []

    def obj():
        return rng.choice(vars_) if rng.random() < 0.7 else rng.choice(
            nodes + [
                '"v1"', '"a\\nb"', '"t\\tv"', '"http://f/n1"',
                f'"http://f/n2"^^<{XSD}anyURI>', f'"v2"^^<{XSD}string>',
                # the plain forms of lv1/dv1 exist only tagged/typed, so
                # "lv1" and "dv1" match nothing; a tag matches in any case
                '"lv1"@fr', '"lv1"@FR', '"lv1"', '"lv2"@en--ltr',
                f'"dv1"^^<{XSD}token>', '"dv1"'])

    for _ in range(rng.randint(1, 3)):
        # a subject the group already binds, now and then a constant
        s = rng.choice(nodes) if rng.random() < 0.2 else \
            rng.choice(used or ["?a"])
        r = rng.random()
        p = (("seq", rng.choice(preds), rng.choice(preds)) if r < 0.15
             else ("plus", rng.choice(preds)) if r < 0.3
             else rng.choice(preds + ["?p"]))
        o = obj()
        pats.append((s, p, o))
        used += [t for t in (s, p, o)
                 if isinstance(t, str) and t.startswith("?") and t not in used]
    if not used:
        return _gen_query(rng)
    parts = [f"{s} {_path_text(p)} {o} ." for s, p, o in pats]
    opt = None
    if rng.random() < 0.4:
        # shares its subject with the required patterns
        opt = (rng.choice(used), rng.choice(preds), rng.choice(vars_ + ["?e"]))
        parts.append("OPTIONAL {{ {} {} {} }}".format(*opt))
        used += [t for t in opt if t.startswith("?") and t not in used]
    filt = None
    if rng.random() < 0.6:
        v = rng.choice(used)
        text, test = _FILTERS[rng.choice(list(_FILTERS))]
        parts.insert(rng.randint(0, len(parts)), text.format(v=v))
        filt = (v, test)
    proj = rng.sample(used, k=rng.randint(1, len(used)))
    distinct = rng.random() < 0.5
    q = (f"SELECT {'DISTINCT ' if distinct else ''}{' '.join(proj)} "
         f"WHERE {{ {' '.join(parts)} }}")
    return q, (pats, opt, filt, proj, distinct)


def _term(kind, lexical, datatype=None, lang=None):
    """RDF term identity: a plain literal is an xsd:string one, and a
    language tag compares case-insensitively."""
    if kind != "literal":
        return (kind, lexical, None, None)
    return (kind, lexical, None if datatype == XSD + "string" else datatype,
            lang.lower() if lang else None)


def _const(tok):
    if tok.startswith("<"):
        return _term("iri", tok[1:-1])
    body, lang, dt = re.fullmatch(
        r'"((?:[^"\\]|\\.)*)"(?:@([\w-]+)|\^\^<([^>]*)>)?', tok).groups()
    value = body.replace("\\n", "\n").replace("\\t", "\t")
    return _term("literal", value, dt, lang)


def _pairs(graph, p):
    """The (subject, object) term pairs a predicate or path connects, as
    a set, as the engine evaluates a path (SPARQL 1.1 would keep one p/q
    solution per middle term): p/q joins on the middle term, p+ is p's
    transitive closure."""
    if isinstance(p, str):
        return {(s, o) for s, pred, o in graph if pred == _const(p)}
    if p[0] == "seq":
        first, second = _pairs(graph, p[1]), _pairs(graph, p[2])
        return {(x, z) for x, y in first for y2, z in second if y == y2}
    step = _pairs(graph, p[1])
    closure = set(step)
    while True:
        more = {(x, z) for x, y in closure for y2, z in step
                if y == y2} - closure
        if not more:
            return closure
        closure |= more


def _extend(graph, sol, pat):
    """The solutions extending ``sol`` by a match of one pattern."""
    s, p, o = pat
    if isinstance(p, tuple) or not p.startswith("?"):
        toks, cands = (s, o), _pairs(graph, p)
    else:
        toks, cands = pat, graph
    out = []
    for terms in cands:
        b = dict(sol)
        if all(b.setdefault(tok, term) == term
               if tok.startswith("?") else _const(tok) == term
               for tok, term in zip(toks, terms)):
            out.append(b)
    return out


def _oracle(rows, spec):
    """Evaluate a generated group over the rows as a set of term triples:
    the BGP, then the OPTIONAL as a left join (a solution no match
    extends stays, its OPTIONAL-only variables unbound), then the FILTER,
    which is false over an unbound variable."""
    pats, opt, filt, proj, distinct = spec
    graph = {(_term("blank" if s.startswith("_:") else "iri", s),
              _term("iri", p), _term(kind, o, dt, lang))
             for s, p, o, kind, dt, lang in rows}
    sols = [{}]
    for pat in pats:
        sols = [b for sol in sols for b in _extend(graph, sol, pat)]
    if opt is not None:
        sols = [b for sol in sols for b in _extend(graph, sol, opt) or [sol]]
    if filt is not None:
        v, test = filt
        sols = [b for b in sols if v in b and test(b[v])]
    out = Counter(tuple(b[v][1] if v in b else None for v in proj)
                  for b in sols)
    return Counter(set(out)) if distinct else out


@pytest.fixture(scope="module")
def fuzz_warehouse(fuzz_graph):
    """(edges, terms) of the fuzz graph, as the pipeline encodes it."""
    from pyspark.sql import functions as F

    from trident_spark.pipeline.kg import dedup_triples, encode_triples

    terms, edges = encode_triples(fuzz_graph.select(
        "*", F.lit("http://f/page").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("fuzz").alias("source")))
    return (dedup_triples(edges).localCheckpoint(eager=True),
            terms.localCheckpoint(eager=True))


def test_query_matches_term_identity_oracle(spark, fuzz_graph,
                                            fuzz_warehouse):
    """query() over the fuzz graph and query_encoded() over its warehouse
    both return the oracle's bag, OPTIONAL groups and paths included: the
    warehouse's id scans filter literal constants of every form (plain,
    tagged in either case, typed) as the lexical scans do."""
    edges, terms = fuzz_warehouse
    rows = _fuzz_rows()
    rng = random.Random(99)
    answered = 0
    for _ in range(30):
        q, spec = _gen_query(rng)
        want = _oracle(rows, spec)
        for run in (lambda: S.query(fuzz_graph, q),
                    lambda: S.query_encoded(edges, terms, q)):
            got = Counter(tuple(r) for r in run().collect())
            assert got == want, (q, got, want)
        answered += bool(want)
    assert answered >= 10  # most queries have rows to compare


def test_warehouse_matches_lexical_compilation(spark, fuzz_graph,
                                               fuzz_warehouse):
    """query_encoded over the encoded fuzz graph answers every generated
    query like query() over the graph itself: its id scans filter literal
    constants of every form (plain, tagged in either case, typed)."""
    edges, terms = fuzz_warehouse
    rng = random.Random(5)
    for _ in range(15):
        q, _ = _gen_query(rng)
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
    """r5 regression: a literal CONSTANT inside an id run matches by full
    (lexical, lang, datatype) identity, in a run of one pattern or two —
    a plain "hello" never matches "hello"@fr."""
    rows = [
        ("http://x/s1", "http://p/n", "hello", "literal", None, "fr"),
        ("http://x/s1", "http://p/q", "y1", "literal", None, None),
        ("http://x/s2", "http://p/n", "hello", "literal", None, None),
        ("http://x/s2", "http://p/q", "y2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, COLS)
    # a one-pattern run and a two-pattern run must agree
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
