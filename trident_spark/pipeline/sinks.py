"""N-Triples serialization/parsing as DataFrame transforms.

N-Triples first (not Turtle): line-oriented → embarrassingly partitionable,
each row serializes independently with zero shuffle (the Turtle analogue
needs a groupBy(subject)).  Escaping and term rendering are pure Catalyst
expressions; only non-ASCII IRIs fall back to the iri_to_uri kernel UDF
(rare on real crawls, guarded by a rlike predicate so the Arrow hop happens
for the tail, not the bulk).

The parser inverts the writer, giving the round-trip conformance suite
(serialize → parse → identical term set) required by the north star.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from trident_spark.functions.iri_funcs import iri_to_uri
from trident_spark.pipeline.kg import TRIPLE_SCHEMA
from trident_spark.pipeline.turtle import (
    TurtleError,
    _UNESCAPE_RE,
    _tokenize,
    _unescape_one,
    canonical_triple_term,
)

_NON_ASCII = "[^\\x00-\\x7F]"


def _escape_literal(col):
    # N-Triples string escapes: \ " \n \r \t  (order matters: backslash first)
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\r", "\\\\r")
    c = F.regexp_replace(c, "\t", "\\\\t")
    # literals needing no escape (the crawl bulk) take one rlike scan
    # instead of five copying regexp_replace passes
    return F.when(col.rlike('[\\\\"\n\r\t]'), c).otherwise(col)


def _render_iri(col):
    """<iri>, converting IRIs to URIs only when non-ASCII chars exist.

    The pandas UDF cannot be evaluated conditionally — Spark lifts it into
    an ArrowEvalPython node that runs on EVERY row — so its INPUT is
    null-gated: ASCII rows (the crawl bulk) cross the Arrow boundary as
    nulls instead of shipping their bytes (guide §4: pass only what the
    function needs), and the batch dedup then does O(distinct non-ASCII)
    Python work."""
    needs_conv = col.rlike(_NON_ASCII)
    converted = F.when(
        needs_conv, iri_to_uri(F.when(needs_conv, col))["value"]
    ).otherwise(col)
    return F.concat(F.lit("<"), converted, F.lit(">"))


def _render_object(render_iri=_render_iri):
    obj = F.col("obj_lexical")
    lit = F.concat(F.lit('"'), _escape_literal(obj), F.lit('"'))
    lit_lang = F.concat(lit, F.lit("@"), F.col("obj_lang"))
    lit_dt = F.concat(lit, F.lit("^^"), render_iri(F.col("obj_datatype")))
    return (
        # kind-gate the rendered column too: without it a non-ASCII text
        # literal would pass _render_iri's rlike gate and ship its whole
        # body through the Arrow hop just to be discarded by this when
        F.when(F.col("obj_kind") == "iri",
               render_iri(F.when(F.col("obj_kind") == "iri", obj)))
        # non-skolemized frames may still carry blank nodes: emit the bare
        # _:label — without this branch they'd fall through to the literal
        # arm and silently serialize as the string "_:b1"
        .when(F.col("obj_kind") == "blank", obj)
        # RDF 1.2 triple terms are stored pre-rendered (<<( s p o )>>, see
        # pipeline/rdfstar.py) — emit verbatim
        .when(F.col("obj_kind") == "triple", obj)
        .when(F.col("obj_lang").isNotNull(), lit_lang)
        .when(F.col("obj_datatype").isNotNull(), lit_dt)
        .otherwise(lit)
    )


def _render_subject(col, render_iri=_render_iri):
    """Blank subjects (label starts ``_:``) render bare; IRIs bracketed."""
    return F.when(col.startswith("_:"), col).otherwise(render_iri(col))


def to_ntriples(skolemized: DataFrame) -> DataFrame:
    """Skolemized lexical triples → one N-Triples line per row."""
    return skolemized.select(
        F.concat_ws(
            " ",
            _render_subject(F.col("subj")),
            _render_iri(F.col("pred")),
            _render_object(),
            F.lit("."),
        ).alias("line")
    )


def to_nquads(skolemized: DataFrame, graph_col: str = "url") -> DataFrame:
    """Lexical triples + a graph column → one N-Quads line per row.

    Named-graph support (reference roadmap: RDF 1.2 / datasets,
    README.md:33-34): the graph term is an IRI (typically the capture url —
    provenance as first-class data).  Rows with a NULL graph serialize as
    plain N-Triples lines (the default graph), matching the N-Quads spec.
    """
    g = F.col(graph_col)
    return skolemized.select(
        F.concat_ws(
            " ",
            _render_subject(F.col("subj")),
            _render_iri(F.col("pred")),
            _render_object(),
            # concat_ws skips NULL: default-graph rows stay triple lines
            F.when(g.isNotNull(), _render_iri(g)),
            F.lit("."),
        ).alias("line")
    )


def from_nquads(lines: DataFrame, errors: str = "strict") -> DataFrame:
    """lines(line string) → parsed quads (graph NULL for triple lines).

    Unparseable lines are never silently dropped:

    - ``errors="strict"`` (default): raise ValueError on the first bad
      line — the parser contract, matching turtle.py's TurtleError.
    - ``errors="column"``: the 100 TB quarantine path — bad lines come
      back with NULL term columns and the raw line in an ``error``
      column, so one hostile shard cannot kill a cluster-wide ingest;
      filter/route on ``error IS NOT NULL``.
    """
    if errors not in ("strict", "column"):
        raise ValueError(f"errors must be 'strict' or 'column': {errors!r}")
    quarantine = errors == "column"

    def run(iterator):
        for pdf in iterator:
            rows = []
            for line in pdf["line"]:
                if not line.strip():
                    continue  # blank lines are legal separators
                parsed = parse_nquads_line(line)
                if parsed is not None:
                    rows.append(parsed + (None,))
                elif quarantine:
                    rows.append((None,) * 7 + (line,))
                else:
                    raise ValueError(f"unparseable N-Quads line: {line!r}")
            yield pd.DataFrame(
                rows,
                columns=["subj", "pred", "obj_lexical", "obj_kind",
                         "obj_datatype", "obj_lang", "graph", "error"],
            )

    from trident_spark.util import ensure_parallelism

    out = ensure_parallelism(lines).mapInPandas(
        run, TRIPLE_SCHEMA + ", graph string, error string")
    return out if quarantine else out.drop("error")


# ---------------------------------------------------------------------------
# Turtle (grouped per subject — needs one groupBy, unlike N-Triples)
# ---------------------------------------------------------------------------

DEFAULT_TURTLE_PREFIXES = {
    "schema": "https://schema.org/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
}


def to_turtle(skolemized: DataFrame,
              prefixes: dict[str, str] | None = None) -> DataFrame:
    """Skolemized lexical triples → one Turtle block per subject.

    The per-subject grouping is the inherent shuffle Turtle requires
    (predicate lists share the subject via ``;``).  Prefix compaction is a
    Catalyst expression chain; emit the @prefix header separately with
    :func:`turtle_header`.
    """
    return _subject_blocks(
        skolemized,
        DEFAULT_TURTLE_PREFIXES if prefixes is None else prefixes,
        with_graph=False)


def _subject_blocks(frame: DataFrame, pfx: dict[str, str],
                    with_graph: bool,
                    chunk_size: int = 10000) -> DataFrame:
    """Shared Turtle/TriG renderer: (graph?,) subj → one ``block`` per
    subject (per graph when ``with_graph``), all in whole-stage codegen.

    Hub subjects with more than ``chunk_size`` triples split into several
    blocks (``util.subject_chunk_key`` secondary key) — Turtle/TriG-legal
    (repeated subject blocks merge) and it bounds per-task array+string
    state, where one 10^7-triple hub would otherwise build a single giant
    block in ONE task at corpus scale."""

    def compact(col):
        # pick the matching prefix with cheap startswith tests, then run ONE
        # local-name safety rlike (the old shape paid a regex per prefix)
        if not pfx:
            return F.concat(F.lit("<"), col, F.lit(">"))
        name = None
        nslen = None
        for p_name, ns in pfx.items():
            hit = col.startswith(ns)
            n = F.when(hit, F.lit(p_name + ":"))
            ln = F.when(hit, F.lit(len(ns)))
            name = n if name is None else F.coalesce(name, n)
            nslen = ln if nslen is None else F.coalesce(nslen, ln)
        local = col.substr(nslen + 1, F.lit(100000))
        ok = name.isNotNull() & local.rlike(r"^[A-Za-z0-9_\-]*$")
        return F.when(ok, F.concat(name, local)).otherwise(
            F.concat(F.lit("<"), col, F.lit(">")))

    obj = F.col("obj_lexical")
    # stage the escaped literal as its own projection: it appears in three
    # branches below, and keeping it a named intermediate (CollapseProject
    # leaves multiply-referenced non-cheap aliases alone) shrinks the
    # generated code for the render stage to a third
    staged = frame.withColumn(
        "_lit", F.concat(F.lit('"'), _escape_literal(obj), F.lit('"')))
    lit = F.col("_lit")
    rendered_obj = (
        F.when(F.col("obj_kind") == "iri", compact(obj))
        .when(F.col("obj_kind") == "blank", obj)  # label verbatim
        # valid Turtle 1.2 triple-term syntax (pipeline/turtle.py parses
        # it back, nesting included)
        .when(F.col("obj_kind") == "triple", obj)
        .when(F.col("obj_lang").isNotNull(), F.concat(lit, F.lit("@"), F.col("obj_lang")))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(lit, F.lit("^^"), compact(F.col("obj_datatype"))))
        .otherwise(lit)
    )
    po = F.concat(compact(F.col("pred")), F.lit(" "), rendered_obj)
    subj_r = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
        .otherwise(compact(F.col("subj")))
    from trident_spark.util import subject_chunk_key

    keys = ["graph", "subj"] if with_graph else ["subj"]
    sel = ([F.col("graph")] if with_graph else []) + \
        [F.col("subj"), po.alias("po")]
    block = F.concat(
        subj_r, F.lit(" "),
        F.concat_ws(" ;\n    ", F.col("pos")), F.lit(" ."),
    ).alias("block")
    chunked = subject_chunk_key(staged.select(*sel), keys, chunk_size,
                                hash_cols=["po"])
    out = (
        chunked.groupBy(*keys, "_chunk")
        .agg(F.array_sort(F.collect_set("po")).alias("pos"))
    )
    if with_graph:
        return out.select(F.col("graph"), block)
    return out.select(block)


def to_trig(quads: DataFrame,
            prefixes: dict[str, str] | None = None) -> DataFrame:
    """Quads → one TriG document chunk per (graph, subject): named-graph
    rows come wrapped as ``<g> { block }``, default-graph rows (graph
    NULL) are plain Turtle blocks.  Each output row + the
    :func:`turtle_header` prefix header is a self-contained TriG document,
    so the corpus stays distributed — the same model as :func:`to_turtle`.
    (One wrapper per subject is valid TriG: a graph may be named by any
    number of blocks, and their contents merge.)"""
    pfx = DEFAULT_TURTLE_PREFIXES if prefixes is None else prefixes
    blocks = _subject_blocks(quads, pfx, with_graph=True)
    g = F.col("graph")
    g_r = F.when(g.startswith("_:"), g).otherwise(
        F.concat(F.lit("<"), g, F.lit(">")))
    return blocks.select(
        F.when(g.isNull(), F.col("block"))
        .otherwise(F.concat(g_r, F.lit(" {\n"), F.col("block"),
                            F.lit("\n}")))
        .alias("chunk")
    )


def turtle_header(prefixes: dict[str, str] | None = None) -> str:
    pfx = DEFAULT_TURTLE_PREFIXES if prefixes is None else prefixes
    return "\n".join(f"@prefix {k}: <{v}> ." for k, v in sorted(pfx.items()))


# ---------------------------------------------------------------------------
# Parser (round-trip oracle)
# ---------------------------------------------------------------------------

# BLANK_NODE_LABEL per the N-Triples grammar: starts with PN_CHARS_U or a
# digit, may contain '.' internally, must not end with '.' (the statement
# terminator).  The old [A-Za-z0-9]+ silently rejected '_'/'-' labels that
# the Turtle tokenizer itself accepts.
_BLANK_LABEL = r"_:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?"

_NT_LINE = re.compile(
    r"^(?:<(?P<s>[^>]*)>|(?P<s_blank>" + _BLANK_LABEL + r")) <(?P<p>[^>]*)> "
    r"(?:<(?P<o_iri>[^>]*)>"
    r"|(?P<o_blank>" + _BLANK_LABEL + r")"
    r'|"(?P<o_lit>(?:[^"\\]|\\.)*)"'
    r"(?:@(?P<lang>[A-Za-z0-9\-]+)|\^\^<(?P<dt>[^>]*)>)?)"
    r"(?: <(?P<g>[^>]*)>)?"  # optional named graph → N-Quads
    r" \.$"
)

# N-Triples 1.2 LANG_DIR: tag + optional base direction '--ltr'/'--rtl'
_LANG_DIR = re.compile(r"^[A-Za-z]+(?:-[A-Za-z0-9]+)*--(?:ltr|rtl)$")

# RDF 1.2 (N-Triples 1.2) triple-term object: <<( ... )>>, stored in the
# canonical form the Turtle reader gives it.  Greedy .* lands on the LAST
# ')>>' so nested terms stay inside the object and a trailing graph IRI is
# not swallowed.
_TT_LINE = re.compile(
    r"^(?:<(?P<s>[^>]*)>|(?P<s_blank>" + _BLANK_LABEL + r")) <(?P<p>[^>]*)> "
    r"(?P<tt><<\(.*\)>>)"
    r"(?: <(?P<g>[^>]*)>)?"
    r" \.$"
)

# the tokens of an N-Triples 1.2 triple term: its brackets, an absolute
# IRI, a blank node, a string with its tag or datatype marker.  Turtle
# shorthand (a pname, `a`, a bare number or boolean, a relative IRI)
# makes the line malformed.
_NT_TT_TOKEN = re.compile(
    r'<<\(|\)>>|\^\^|@.+|".*|_:.+|<[A-Za-z][A-Za-z0-9+.\-]*:.*>', re.S)


def parse_nquads_line(line: str):
    """One N-Quads line → (subj, pred, obj_lexical, obj_kind, dt, lang,
    graph) — graph is None for plain N-Triples (default-graph) lines."""
    m = _NT_LINE.match(line.strip())
    if not m:
        t = _TT_LINE.match(line.strip())
        if t is None:
            return None
        try:
            if not all(map(_NT_TT_TOKEN.fullmatch, _tokenize(t.group("tt")))):
                return None
            tt = canonical_triple_term(t.group("tt"))
        except TurtleError:
            return None
        subj = t.group("s") if t.group("s") is not None \
            else t.group("s_blank")
        return (subj, t.group("p"), tt, "triple", None, None, t.group("g"))
    subj = m.group("s") if m.group("s") is not None else m.group("s_blank")
    g = m.group("g")
    if m.group("o_iri") is not None:
        return (subj, m.group("p"), m.group("o_iri"), "iri", None, None, g)
    if m.group("o_blank") is not None:
        return (subj, m.group("p"), m.group("o_blank"), "blank", None, None, g)
    try:
        lex = _UNESCAPE_RE.sub(_unescape_one, m.group("o_lit"))
    except TurtleError:
        return None  # an escape N-Triples does not define
    lang = m.group("lang")
    if lang is not None and "--" in lang and not _LANG_DIR.match(lang):
        # N-Triples 1.2 LANG_DIR: a '--' suffix must be exactly one
        # lowercase 'ltr'/'rtl' — anything else is a malformed line
        return None
    return (subj, m.group("p"), lex, "literal", m.group("dt"),
            lang, g)


def parse_ntriples_line(line: str):
    """One N-Triples line → (subj, pred, obj_lexical, obj_kind, dt, lang);
    rejects quad lines (strict N-Triples)."""
    q = parse_nquads_line(line)
    if q is None or q[6] is not None:
        return None
    return q[:6]


def from_ntriples(lines: DataFrame, errors: str = "strict") -> DataFrame:
    """lines(line string) → parsed triples.  Same error contract as
    :func:`from_nquads` (strict raise / ``error`` quarantine column); quad
    lines are malformed here (strict N-Triples)."""
    if errors not in ("strict", "column"):
        raise ValueError(f"errors must be 'strict' or 'column': {errors!r}")
    quarantine = errors == "column"

    def run(iterator):
        for pdf in iterator:
            rows = []
            for line in pdf["line"]:
                if not line.strip():
                    continue
                parsed = parse_ntriples_line(line)
                if parsed is not None:
                    rows.append(parsed + (None,))
                elif quarantine:
                    rows.append((None,) * 6 + (line,))
                else:
                    raise ValueError(f"unparseable N-Triples line: {line!r}")
            yield pd.DataFrame(
                rows,
                columns=["subj", "pred", "obj_lexical", "obj_kind",
                         "obj_datatype", "obj_lang", "error"],
            )

    from trident_spark.util import ensure_parallelism

    out = ensure_parallelism(lines).mapInPandas(
        run, TRIPLE_SCHEMA + ", error string")
    return out if quarantine else out.drop("error")
