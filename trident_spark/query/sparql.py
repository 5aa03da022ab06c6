"""SPARQL SELECT engine on DataFrames.

Implements the query surface the reference proposes (``g.Query(sparql)`` →
iterable solutions, README.md:94-120) for the SELECT fragment:

    PREFIX schema: <https://schema.org/>
    SELECT ?person ?org (COUNT(?award) AS ?n) WHERE {
        ?person schema:worksFor ?org ;
                schema:name ?name .
        OPTIONAL { ?person schema:award ?award }
        { ?org a schema:Organization } UNION { ?org a schema:NGO }
        FILTER(STRLEN(?name) > 3 && ?name != "Acme (inc)")
    } GROUP BY ?person ?org ORDER BY DESC(?n) LIMIT 10

Supported: basic graph patterns with ``;``/``,`` predicate-object lists,
FILTER (nested parens, quoted strings, BOUND/STRLEN/REGEX/STRSTARTS/
STRENDS/CONTAINS/UCASE/LCASE), FILTER [NOT] EXISTS, OPTIONAL (left join on
shared variables), UNION (column-aligned union), MINUS (anti join), VALUES
(inline data), BIND, nested groups and subqueries (``{ SELECT ... }``),
property paths, aggregates COUNT/SUM/AVG/MIN/MAX with GROUP BY + HAVING,
DISTINCT, ORDER BY (incl. aggregate aliases), LIMIT/OFFSET, and the ASK
and CONSTRUCT query forms (``ask()`` / ``construct()``).

Compilation is the classic mapping: every triple pattern is a filtered scan
of the lexical triples DataFrame; shared variables become equi-join keys
(Catalyst picks broadcast/sort-merge); OPTIONAL becomes a left outer join;
UNION a ``unionByName(allowMissingColumns=True)``; MINUS / NOT EXISTS a
``left_anti`` join; EXISTS a ``left_semi``; VALUES a join against a literal
local relation; FILTER a Spark SQL expression; aggregates a
``groupBy().agg()``; CONSTRUCT a per-template-triple projection union of
the terms the solutions bind.

Unbound-variable semantics (full §8.3/§10.2 compatibility): a variable
that may be NULL = unbound — VALUES UNDEF cells, OPTIONAL-introduced
variables on non-matching rows, variables bound in only one UNION
branch — is threaded as *nullable* across nested groups, UNION
branches, GRAPH scopes, subselect projections and the right side of
MINUS/EXISTS; any later join sharing a nullable key compiles to a
SPARQL §10.2 compatibility join (NULL matches anything, COALESCE
re-binds).  On the scale path that is a UNION of plain equi-joins
partitioned by null signature (hash-joinable — never a quadratic theta
join); plans with no nullable shared key keep the plain equi-join.
Filter scoping is strict bottom-up (§18.2): a filter in a plain nested
{}, a GRAPH group or a UNION branch that references a variable bound
only in the enclosing group evaluates it as UNBOUND (NULL → expression
error → false) exactly like reference engines; outer bindings are
substituted only where the spec says so — the OPTIONAL left-join
condition and EXISTS/NOT EXISTS.
Remaining simplifications (documented, not silent): SUM/AVG cast the
lexical form to double;
HAVING aggregates not named in SELECT are computed as hidden columns
and dropped after filtering; GRAPH patterns need a quads frame (a
``graph`` column —
top-level patterns then match the default graph per SPARQL dataset
semantics); property paths inside ``GRAPH ?var`` compute per-graph
closures; nested GRAPH re-scopes the active graph per §13.3 (the outer
graph var crosses the named-graph list when its subgroup leaves it
unbound); no federation —
``SERVICE`` is deliberately out of scope for a single-warehouse engine
and rejected loudly (a distributed engine calling per-row remote SPARQL
endpoints is an anti-pattern at any scale; materialize the remote graph
into the warehouse instead).

Join semantics: a variable binds one RDF term.  Every element that binds
``?v`` — an id run of plain patterns, a property path, a quoted triple,
VALUES, BIND, a subselect, a UNION branch, a GRAPH block — carries its
64-bit ``kg.term_id`` in ``_tid_v``, and wherever ``?v`` is decoded, its
lexical form in ``v`` and its kind/datatype/lang in ``_kind_v``/``_dt_v``
/``_lang_v`` (unbound = null in every column).  Every join keys on the
shared variables' ``_tid_`` columns — inside a run, between group
elements, in the OPTIONAL/VALUES compatibility joins, MINUS and EXISTS —
so a literal never matches an IRI with the same lexical form.  A
variable is decoded only where the query reads its value (the
projection, a FILTER/BIND argument); a subgroup leaves the variables its
enclosing plan holds as ids.

``query_encoded`` runs this same compiler over the pipeline's
dictionary-encoded tables: its runs scan the edge table's id columns and
decode through the term table (see its docstring).

The WHERE block is tokenized by a scanner that respects ``<>``-delimited
IRIs and quoted literals (PREFIX declarations are lifted from the TOKEN
stream), so statement splitting and filter rewriting can never corrupt
IRIs or strings containing ``.``/``=``/``&&``/``PREFIX``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import DataFrame, functions as F

from trident_spark.pipeline.kg import (
    TRIPLE_SCHEMA, XSD_STRING, one_row_per_id, subject_kind, term_columns,
    term_id,
)
from trident_spark.pipeline.sinks import _BLANK_LABEL, _escape_literal
from trident_spark.pipeline.turtle import render_term

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"

# bare numeric / boolean shorthand (the tokenizer's unsigned number class
# plus true/false): an xsd:integer/decimal/boolean term (_const_term)
_PLAIN_SCALAR = re.compile(r"^(?:[0-9]+(?:\.[0-9]+)?|true|false)$")

# scanner: IRIs and quoted literals are atomic tokens, so nothing downstream
# can mistake a '.' inside an IRI for a statement terminator or rewrite an
# '=' inside a string
_TOKEN_RE = re.compile(
    r"""
      <<\( | \)>>                                       # RDF 1.2 triple term
    | <[^\s<>]*>                                        # IRI
    | "(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9\-]+|\^\^\S+)?     # literal (+lang/dt)
    | \?\w+                                             # variable
    | [A-Za-z_][A-Za-z0-9_\-]*(?::[A-Za-z0-9_\-.]*)?    # keyword / pname / a
    | [0-9]+(?:\.[0-9]+)?                               # number
    | && | \|\| | != | <= | >=                          # 2-char operators
    | [{}().,;=<>!*/+\-^|?]                             # 1-char punctuation
                                                        # (? = path 0-or-1)
    """,
    re.VERBOSE,
)


class SparqlError(ValueError):
    pass


def _public(fn):
    """Public-entry guard: malformed/truncated queries surface as
    SparqlError (the module's documented error type) instead of bare
    IndexError/ValueError from token lookahead or int() parses."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except SparqlError:
            raise
        except (IndexError, ValueError) as e:
            raise SparqlError(
                f"malformed query ({type(e).__name__}: {e})") from e
    return wrapped


def _tokenize(s: str) -> list[str]:
    toks, pos = [], 0
    for m in _TOKEN_RE.finditer(s):
        if s[pos : m.start()].strip():
            raise SparqlError(f"cannot tokenize: {s[pos:m.start()]!r}")
        toks.append(m.group(0))
        pos = m.end()
    if s[pos:].strip():
        raise SparqlError(f"cannot tokenize: {s[pos:]!r}")
    return toks


@dataclass
class _Quoted:
    """RDF 1.2 quoted-triple object pattern: ``<<( s p o )>>`` with each
    slot a variable or constant token.  Only the object position — triple
    terms cannot be subjects in RDF 1.2."""
    subj: str
    pred: str
    obj: str


@dataclass
class _Pattern:
    subj: str
    pred: "str | tuple"  # IRI/var token, or a property-path AST tuple
    obj: "str | _Quoted"


# property-path AST: ("iri", token) | ("inv", p) | ("seq", p, q)
#                  | ("alt", p, q) | ("plus", p) | ("star", p)
_PATH_OPS = {"/", "|", "^", "+", "*", "("}


def _parse_path(toks: list[str], i: int) -> tuple:
    """Recursive-descent SPARQL property path: alt < seq < postfix < inverse."""

    def primary(i):
        if toks[i] == "!":
            # negated property set: !iri, !^iri, !(iri|^iri|...) — §18.4
            # splits members into a forward set and an inverse set
            i += 1
            fwd: list[str] = []
            invm: list[str] = []

            def member(i: int) -> int:
                into = fwd
                if i < len(toks) and toks[i] == "^":
                    into, i = invm, i + 1
                if i >= len(toks) or not _is_term(toks[i]) \
                        or toks[i].startswith("?"):
                    raise SparqlError("invalid negated property set")
                into.append(toks[i])
                return i + 1

            if i < len(toks) and toks[i] == "(":
                i += 1
                while True:
                    i = member(i)
                    if i < len(toks) and toks[i] == "|":
                        i += 1
                        continue
                    break
                if i >= len(toks) or toks[i] != ")":
                    raise SparqlError("unbalanced negated property set")
                i += 1
            else:
                i = member(i)
            return ("neg", fwd, invm), i
        if toks[i] == "(":
            node, i = alt(i + 1)
            if i >= len(toks) or toks[i] != ")":
                raise SparqlError("unbalanced parens in property path")
            return node, i + 1
        t = toks[i]
        if not _is_term(t) or t.startswith("?"):
            raise SparqlError(f"invalid property-path element {t!r}")
        return ("iri", t), i + 1

    def step(i):
        inv = False
        if toks[i] == "^":
            inv, i = True, i + 1
        node, i = primary(i)
        while i < len(toks) and toks[i] in ("+", "*", "?"):
            node = ({"+": "plus", "*": "star", "?": "opt"}[toks[i]], node)
            i += 1
        return (("inv", node) if inv else node), i

    def seq(i):
        node, i = step(i)
        while i < len(toks) and toks[i] == "/":
            right, i = step(i + 1)
            node = ("seq", node, right)
        return node, i

    def alt(i):
        node, i = seq(i)
        while i < len(toks) and toks[i] == "|":
            right, i = seq(i + 1)
            node = ("alt", node, right)
        return node, i

    return alt(i)


@dataclass
class _Group:
    # elements: _Pattern | ("filter", [tokens]) | ("optional", _Group)
    #         | ("union", _Group, _Group) | ("group", _Group)
    #         | ("minus", _Group) | ("exists", bool, _Group)
    #         | ("values", [vars], [rows]) | ("bind", [tokens], alias)
    #         | ("subselect", [tokens])
    elements: list = field(default_factory=list)


def _is_term(tok: str) -> bool:
    return bool(tok) and tok not in "{}.;,()" and tok.upper() not in (
        "FILTER", "OPTIONAL", "UNION", "MINUS", "VALUES", "BIND", "GRAPH",
    )


def _match_brace(toks: list[str], i: int) -> int:
    """index just past the '}' matching the '{' at ``toks[i]``."""
    depth, j = 1, i + 1
    while j < len(toks) and depth:
        depth += {"{": 1, "}": -1}.get(toks[j], 0)
        j += 1
    if depth:
        raise SparqlError("unbalanced braces")
    return j


def _parse_values(toks: list[str], i: int) -> tuple[tuple, int]:
    """VALUES ?v { t... } | VALUES (?v ?w) { (t t) ... } → ("values", ...)."""
    vars_: list[str] = []
    if toks[i].startswith("?"):
        vars_, i, rowform = [toks[i][1:]], i + 1, False
    elif toks[i] == "(":
        i, rowform = i + 1, True
        while i < len(toks) and toks[i].startswith("?"):
            vars_.append(toks[i][1:])
            i += 1
        if not vars_ or i >= len(toks) or toks[i] != ")":
            raise SparqlError("malformed VALUES variable list")
        i += 1
    else:
        raise SparqlError("VALUES requires ?var or (?var ...)")
    if i >= len(toks) or toks[i] != "{":
        raise SparqlError("VALUES requires a data block")
    i += 1
    rows: list[tuple] = []
    while i < len(toks) and toks[i] != "}":
        if rowform:
            if toks[i] != "(":
                raise SparqlError("VALUES rows must be parenthesized")
            i += 1
            row = []
            while i < len(toks) and toks[i] != ")":
                row.append(_values_term(toks[i]))
                i += 1
            if i >= len(toks) or len(row) != len(vars_):
                raise SparqlError("VALUES row arity mismatch")
            i += 1
        else:
            row = [_values_term(toks[i])]
            i += 1
        rows.append(tuple(row))
    if i >= len(toks):
        raise SparqlError("unterminated VALUES block")
    if not rows:
        raise SparqlError("empty VALUES block")
    return ("values", vars_, rows), i + 1


def _values_term(tok: str) -> str | None:
    if tok.upper() == "UNDEF":
        return None  # unbound cell → NULL; compat-joined per SPARQL §10.2
    return tok  # raw token; unquoted/expanded at compile time (needs prefixes)


# SPARQL ECHAR set (grammar [160]): \t \b \n \r \f \" \' \\ .  Unknown
# escapes (e.g. the technically-illegal-but-common "\d" in REGEX patterns)
# are kept verbatim as backslash+char — lenient, matches round-trip tests.
_ECHAR_MAP = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
              '"': '"', "'": "'", "\\": "\\"}


def _decode_echars(body: str) -> str:
    return re.sub(r"\\(.)",
                  lambda m: _ECHAR_MAP.get(m.group(1), "\\" + m.group(1)),
                  body)


def _term_value(tok: str, prefixes: dict[str, str]) -> str:
    """IRI/literal/pname token → its lexical value."""
    if tok.startswith('"'):
        m = re.match(r'"((?:[^"\\]|\\.)*)"', tok)
        return _decode_echars(m.group(1))
    return _expand(tok, prefixes)


_LIT_TOK_RE = re.compile(
    r'^"(?:[^"\\]|\\.)*"(?:@(?P<lang>[A-Za-z0-9\-]+)|\^\^(?P<dt>\S+))?$')


def _literal_parts(tok: str, prefixes: dict[str, str]
                   ) -> tuple[str, str | None, str | None]:
    """Literal token → (lexical value, language tag | None,
    expanded datatype IRI | None): the parts of the RDF term the constant
    denotes (:func:`_const_term`), which templates instantiate."""
    m = _LIT_TOK_RE.match(tok)
    if not m:
        raise SparqlError(f"malformed literal token {tok!r}")
    dt = m.group("dt")
    return (_term_value(tok, prefixes), m.group("lang"),
            _expand(dt, prefixes) if dt else None)


def _parse_group(toks: list[str], i: int) -> tuple[_Group, int]:
    """Parse tokens after an opening '{' until its matching '}'."""
    g = _Group()
    while i < len(toks):
        t = toks[i]
        up = t.upper()
        if t == "}":
            return g, i + 1
        if up == "SERVICE":
            raise SparqlError(
                "SERVICE (federation) is out of scope for this "
                "single-warehouse engine — materialize the remote graph "
                "into the warehouse instead")
        if up == "FILTER":
            nxt = toks[i + 1].upper() if i + 1 < len(toks) else ""
            if nxt in ("EXISTS", "NOT"):
                positive = nxt == "EXISTS"
                j = i + 2
                if not positive:
                    if j >= len(toks) or toks[j].upper() != "EXISTS":
                        raise SparqlError("FILTER NOT requires EXISTS")
                    j += 1
                if j >= len(toks) or toks[j] != "{":
                    raise SparqlError("FILTER [NOT] EXISTS requires a group")
                sub, i = _parse_group(toks, j + 1)
                g.elements.append(("exists", positive, sub))
                continue
            if i + 1 >= len(toks) or toks[i + 1] != "(":
                raise SparqlError("FILTER requires parenthesized expression")
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += {"(": 1, ")": -1}.get(toks[j], 0)
                j += 1
            if depth:
                raise SparqlError("unbalanced parens in FILTER")
            g.elements.append(("filter", toks[i + 2 : j - 1]))
            i = j
        elif up == "OPTIONAL":
            if i + 1 >= len(toks) or toks[i + 1] != "{":
                raise SparqlError("OPTIONAL requires a group")
            sub, i = _parse_group(toks, i + 2)
            g.elements.append(("optional", sub))
        elif up == "MINUS":
            if i + 1 >= len(toks) or toks[i + 1] != "{":
                raise SparqlError("MINUS requires a group")
            sub, i = _parse_group(toks, i + 2)
            g.elements.append(("minus", sub))
        elif up == "VALUES":
            el, i = _parse_values(toks, i + 1)
            g.elements.append(el)
        elif up == "GRAPH":
            if i + 2 >= len(toks) or toks[i + 2] != "{":
                raise SparqlError("GRAPH requires a term and a group")
            term = toks[i + 1]
            if not (term.startswith("?") or _is_term(term)) \
                    or term.startswith('"'):
                raise SparqlError(f"invalid GRAPH term {term!r}")
            sub, i = _parse_group(toks, i + 3)
            g.elements.append(("graph", term, sub))
        elif up == "BIND":
            # BIND ( expr AS ?v )
            if i + 1 >= len(toks) or toks[i + 1] != "(":
                raise SparqlError("BIND requires (expr AS ?var)")
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += {"(": 1, ")": -1}.get(toks[j], 0)
                j += 1
            if depth:
                raise SparqlError("unbalanced parens in BIND")
            body = toks[i + 2 : j - 1]
            if len(body) < 3 or body[-2].upper() != "AS" \
                    or not body[-1].startswith("?"):
                raise SparqlError("BIND requires (expr AS ?var)")
            g.elements.append(("bind", body[:-2], body[-1][1:]))
            i = j
        elif t == "{":
            if i + 1 < len(toks) and toks[i + 1].upper() == "SELECT":
                j = _match_brace(toks, i)
                g.elements.append(("subselect", toks[i + 1 : j - 1]))
                i = j
                continue
            sub, i = _parse_group(toks, i + 1)
            if i < len(toks) and toks[i].upper() == "UNION":
                if i + 1 >= len(toks) or toks[i + 1] != "{":
                    raise SparqlError("UNION requires a group")
                right, i = _parse_group(toks, i + 2)
                g.elements.append(("union", sub, right))
            else:
                g.elements.append(("group", sub))
        elif t == ".":
            i += 1  # statement separator
        elif t in ("<<(", ")>>"):
            raise SparqlError(
                "quoted triples are object terms only (RDF 1.2)")
        else:
            # triple: subject, then ';'-separated predicate-object lists
            # with ','-separated objects
            subj = t
            i += 1
            while True:
                if i + 1 >= len(toks) or not (
                    _is_term(toks[i]) or toks[i] in _PATH_OPS
                ):
                    raise SparqlError(f"malformed triple after {subj!r}")
                if toks[i].startswith("?"):
                    pred = toks[i]
                    i += 1
                else:
                    node, i = _parse_path(toks, i)
                    # atomic paths stay plain strings (the fast common case)
                    pred = node[1] if node[0] == "iri" else node
                while True:
                    if toks[i] == "<<(":
                        # RDF 1.2 quoted-triple object pattern
                        if i + 4 >= len(toks) or toks[i + 4] != ")>>":
                            raise SparqlError(
                                "quoted-triple pattern must be "
                                "<<( subj pred obj )>>")
                        inner = toks[i + 1 : i + 4]
                        if any(not _is_term(x) or x in ("<<(", ")>>")
                               for x in inner):
                            raise SparqlError(
                                "malformed quoted-triple pattern")
                        obj: "str | _Quoted" = _Quoted(*inner)
                        i += 5
                    elif _is_term(toks[i]):
                        obj = toks[i]
                        i += 1
                    else:
                        raise SparqlError(f"malformed object after {pred!r}")
                    g.elements.append(_Pattern(subj, pred, obj))
                    if i < len(toks) and toks[i] == ",":
                        i += 1
                        continue
                    break
                if i < len(toks) and toks[i] == ";":
                    i += 1
                    if i < len(toks) and toks[i] in (".", "}"):  # dangling ;
                        break
                    continue
                break
    raise SparqlError("unbalanced braces in WHERE")


def _expand(term: str, prefixes: dict[str, str]) -> str:
    if term.startswith("<") and term.endswith(">"):
        return term[1:-1]
    if term == "a":
        return RDF_TYPE
    if ":" in term and not term.startswith("?") and not term.startswith('"'):
        pfx, _, local = term.partition(":")
        if pfx in prefixes:
            return prefixes[pfx] + local
    return term


def _sql_str(tok: str) -> str:
    """SPARQL double-quoted literal token → SQL single-quoted string.

    Spark's SQL parser C-unescapes single-quoted literals (default
    ``escapedStringLiterals=false``), so after decoding the SPARQL-level
    escapes every remaining backslash must be RE-escaped — otherwise
    REGEX(?x, "\\\\d+") reaches Spark as the regex "d+" and literal
    comparisons against backslash-bearing strings silently miss."""
    body = re.match(r'"((?:[^"\\]|\\.)*)"', tok).group(1)
    body = _decode_echars(body)          # SPARQL-level ECHAR decode
    body = body.replace("\\", "\\\\")    # re-escape for Spark's C-unescaping
    # Control chars go back out as Spark escape sequences so the generated
    # SQL text stays single-line and survives any downstream reparse.
    # NB Spark's unescaper has NO \f (it would decode to the letter 'f',
    # r4 review finding) — \f and \b use \uXXXX, which Spark does decode.
    for ch, esc in (("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t"),
                    ("\b", "\\u0008"), ("\f", "\\u000C")):
        body = body.replace(ch, esc)
    return "'" + body.replace("'", "''") + "'"


_FILTER_FUNCS = {
    "STRLEN": "length",
    "STRSTARTS": "startswith",
    "STRENDS": "endswith",
    "CONTAINS": "contains",
    "UCASE": "upper",
    "LCASE": "lower",
    "STR": "string",
    "CONCAT": "concat",
    "SUBSTR": "substr",
    "REPLACE": "regexp_replace",  # SPARQL REPLACE is regex-based
    "COALESCE": "coalesce",
    "IF": "if",
    "MD5": "md5",
    "SHA1": "sha1",
}


# SPARQL functions with no 1:1 Spark SQL builtin — expanded as SQL macros
# over their compiled argument expressions
_MACRO_FUNCS = ("STRBEFORE", "STRAFTER", "SAMETERM", "LANGMATCHES",
                "ENCODE_FOR_URI", "REGEX", "SHA256", "SHA384", "SHA512",
                "ISNUMERIC", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
                "SECONDS", "TZ", "TIMEZONE", "IRI", "URI", "STRLANG",
                "STRLANGDIR", "STRDT", "ROUND", "CEIL", "FLOOR", "ABS",
                # SPARQL 1.2 triple-term accessors (the TRIPLE constructor
                # and isTRIPLE predicate are handled structurally)
                "SUBJECT", "PREDICATE", "OBJECT")


def _sql_rx(py_regex: str) -> str:
    """Java-regex string (as used with F.regexp_extract) → Spark SQL
    string literal carrying the same regex (backslashes re-escaped)."""
    return "'" + py_regex.replace("\\", "\\\\").replace("'", "\\'") + "'"


# N-Triples literal body (the quoted, still-escaped form)
_NT_LIT_BODY = r'^"((?:[^"\\]|\\.)*)"'
# … and its @lang / ^^<datatype> suffix, when present
_NT_LIT_SUFFIX = r'^"(?:[^"\\]|\\.)*"((?:@|\^\^).+)$'

# non-deterministic SPARQL builtins: a distributed engine re-evaluating
# them per partition/retry cannot give the single-evaluation semantics
# the spec implies — reject loudly rather than answer wrong
_NONDET_FUNCS = ("NOW", "RAND", "UUID", "STRUUID", "BNODE")

# xsd:dateTime lexical form: the accessor macros read components straight
# off the canonical lexical representation (engine-portable, no timestamp
# parser divergence); group k = YEAR..SECONDS below
_XSD_DT_RE = ("'^(-?\\\\d{4,})-(\\\\d{2})-(\\\\d{2})T"
              "(\\\\d{2}):(\\\\d{2}):(\\\\d{2}(?:\\\\.\\\\d+)?)'")


def _term_constructor_bind(toks: list[str], prefixes: dict[str, str]
                           ) -> tuple[list[str], str, str | None,
                                      str | None] | None:
    """A BIND expression that IS a typed-term constructor —
    ``STRLANG(e, "tag")`` / ``STRLANGDIR(e, "tag", "dir")`` /
    ``STRDT(e, <dt>)`` / ``IRI(e)`` / ``URI(e)``
    at top level — returns (value_tokens, kind, lang, datatype) so the
    bind attaches hidden metadata columns; None for ordinary expressions
    (which stay plain literals, the SPARQL default)."""
    if not toks or toks[0].upper() not in ("STRLANG", "STRLANGDIR",
                                           "STRDT", "IRI", "URI"):
        return None
    name = toks[0].upper()
    args, j = _parse_call_args(toks, 1)
    if j != len(toks):
        return None  # constructor nested inside a larger expression
    if name in ("IRI", "URI"):
        if len(args) != 1 or not args[0]:
            raise SparqlError(f"{name} takes one argument")
        return args[0], "iri", None, None
    if name == "STRLANGDIR":
        # SPARQL 1.2 §17.4.2: rdf:dirLangString constructor — the base
        # direction rides on the stored tag as `tag--ltr|rtl` (the
        # N-Triples 1.2 LANG_DIR surface form used engine-wide)
        if len(args) != 3 or not args[0] or len(args[1]) != 1 \
                or len(args[2]) != 1 or not args[1][0].startswith('"') \
                or not args[2][0].startswith('"'):
            raise SparqlError(
                "STRLANGDIR takes (expression, \"tag\", \"dir\")")
        direction = _term_value(args[2][0], prefixes)
        if direction not in ("ltr", "rtl"):
            raise SparqlError("STRLANGDIR direction must be 'ltr' or 'rtl'")
        tag_v = _term_value(args[1][0], prefixes)
        return args[0], "literal", f"{tag_v}--{direction}", None
    if len(args) != 2 or not args[0] or len(args[1]) != 1:
        raise SparqlError(f"{name} takes (expression, constant)")
    tag = args[1][0]
    if name == "STRLANG":
        if not tag.startswith('"'):
            raise SparqlError("STRLANG language tag must be a string "
                              "literal")
        return args[0], "literal", _term_value(tag, prefixes), None
    if tag.startswith('"') or tag.startswith("?"):
        raise SparqlError("STRDT datatype must be an IRI")
    return args[0], "literal", None, _expand(tag, prefixes)


def _outer_bind_vars(group: "_Group", outer: set[str]) -> set[str]:
    """Outer-scope variables a BIND expression inside ``group`` (or a
    nested subgroup) references without the group binding them itself —
    the EXISTS substitution semantics needs those outer bindings SEEDED
    into the subgroup compile (filters alone can defer into the join
    condition; a BIND computes new columns and cannot)."""
    binds: set[str] = set()
    local: set[str] = set()

    def walk(g: "_Group") -> None:
        for el in g.elements:
            if isinstance(el, _Pattern):
                local.update(_pattern_vars(el))
            elif isinstance(el, tuple) and el:
                if el[0] == "bind":
                    binds.update(t[1:] for t in el[1] if t.startswith("?"))
                    local.add(el[2])
                elif el[0] == "values":
                    local.update(el[1])
                elif el[0] in ("optional", "group", "minus"):
                    walk(el[1])
                elif el[0] == "graph":
                    if el[1].startswith("?"):
                        local.add(el[1][1:])
                    walk(el[2])
                elif el[0] == "union":
                    walk(el[1])
                    walk(el[2])

    walk(group)
    return (binds - local) & outer


def _triple_ctor_col(args: list[list[str]], prefixes: dict[str, str],
                     plan: DataFrame):
    """``TRIPLE(s, p, o)`` (SPARQL 1.2 17.4.2.8) → a Column rendering the
    canonical stored triple-term lexical ``<<( s p o )>>``
    (``rdfstar.triple_term``), so the constructed term joins/compares
    against pattern-bound triple terms.  NULL (= the variable stays
    unbound) when any argument is unbound."""
    if len(args) != 3 or any(len(a) != 1 for a in args):
        raise SparqlError(
            "TRIPLE takes (subject, predicate, object) single terms")
    cols = set(plan.columns)

    def render(a: list[str], pos: str):
        t = a[0]
        if not t.startswith("?"):
            kind, lex, dt, lang = _const_term(t, prefixes)
            if pos != "obj" and kind == "literal":
                raise SparqlError(f"TRIPLE {pos} cannot be a literal")
            if pos == "pred" and kind == "blank":
                # a blank-node predicate is not legal RDF — constructing
                # it would emit a triple term the writer never produces
                # (joins silently empty); reject loudly like literals
                raise SparqlError("TRIPLE predicate cannot be a blank node")
            return F.lit(render_term(lex, kind, dt, lang))
        v = t[1:]
        if v not in cols:
            return F.lit(None).cast("string")  # unbound arg → unbound
        val = F.col(v)
        iri = F.concat(F.lit("<"), val, F.lit(">"))
        if pos == "subj":
            return F.when(val.startswith("_:"), val).otherwise(iri)
        if pos == "pred":
            return iri
        quoted = F.concat(F.lit('"'), _escape_literal(val), F.lit('"'))
        kind, lang, dt = (F.col(f"{p}{v}")
                          for p in ("_kind_", "_lang_", "_dt_"))
        return (F.when(kind == "iri", iri)
                .when(kind == "blank", val)
                .when(kind == "triple", val)
                .when(lang.isNotNull(), F.concat(quoted, F.lit("@"), lang))
                .when(dt.isNotNull(),
                      F.concat(quoted, F.lit("^^<"), dt, F.lit(">")))
                .otherwise(quoted))

    return F.concat(F.lit("<<( "), render(args[0], "subj"), F.lit(" "),
                    render(args[1], "pred"), F.lit(" "),
                    render(args[2], "obj"), F.lit(" )>>"))


def _parse_call_args(toks: list[str], i: int) -> tuple[list[list[str]], int]:
    """toks[i] must be '(' — split the balanced argument list on top-level
    commas; returns (args, index after the closing paren)."""
    if toks[i : i + 1] != ["("]:
        raise SparqlError("expected '(' after function name")
    depth, args, cur = 1, [], []
    i += 1
    while i < len(toks):
        t = toks[i]
        if t == "(":
            depth += 1
            cur.append(t)
        elif t == ")":
            depth -= 1
            if depth == 0:
                args.append(cur)
                return args, i + 1
            cur.append(t)
        elif t == "," and depth == 1:
            args.append(cur)
            cur = []
        else:
            cur.append(t)
        i += 1
    raise SparqlError("unbalanced parentheses in expression")


def _expand_macro(name: str, args: list[list[str]],
                  cols: set[str] | None) -> str:
    if any(not a for a in args):
        # IRI() / SHA256(,) etc.: an empty argument token list would
        # compile to an empty SQL fragment and surface as a Spark
        # ParseException instead of this module's loud contract
        raise SparqlError(f"{name} called with an empty argument")
    sql = [_filter_sql(a, cols) for a in args]
    if name in ("STRBEFORE", "STRAFTER") and len(sql) == 2:
        a, b = sql
        if name == "STRBEFORE":  # "" when the needle is absent (SPARQL 17.4.3.10)
            return (f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                    f"substring({a}, 1, instr({a}, {b}) - 1) ELSE '' END)")
        return (f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                f"substring({a}, instr({a}, {b}) + length({b})) "
                f"ELSE '' END)")
    if name == "REGEX" and len(sql) in (2, 3):
        if len(sql) == 2:
            return f"regexp_like({sql[0]}, {sql[1]})"
        # SPARQL flags (i/s/m/x subset) → inline (?flags) prefix
        ftoks = args[2]
        m = (re.match(r'"([imsx]*)"$', ftoks[0])
             if len(ftoks) == 1 else None)
        if m is None:
            raise SparqlError(
                "REGEX flags must be a plain 'imsx' string literal")
        if not m.group(1):
            return f"regexp_like({sql[0]}, {sql[1]})"
        return f"regexp_like({sql[0]}, '(?{m.group(1)})' || {sql[1]})"
    if name == "ENCODE_FOR_URI" and len(sql) == 1:
        # url_encode is Java form-encoding: space→'+', '~'→%7E, '*' kept.
        # SPARQL 17.4.3.15 wants RFC 3986 unreserved (ALPHA/DIGIT/-._~)
        # kept and everything else — including '*' — percent-encoded.
        return (f"replace(replace(replace(url_encode({sql[0]}), "
                f"'+', '%20'), '%7E', '~'), '*', '%2A')")
    if name == "LANGMATCHES" and len(sql) == 2:
        tag, rng = sql
        return (f"(CASE WHEN {rng} = '*' THEN {tag} <> '' "
                f"ELSE lower({tag}) = lower({rng}) "
                f"OR startswith(lower({tag}), lower({rng}) || '-') END)")
    if name in ("IRI", "URI") and len(sql) == 1:
        # nested in a larger expression: the VALUE is the string itself
        # (kind metadata only attaches for top-level BIND constructors)
        return sql[0]
    if name in ("STRLANG", "STRDT") and len(sql) == 2 \
            or name == "STRLANGDIR" and len(sql) == 3:
        return sql[0]
    if name in ("ROUND", "CEIL", "FLOOR", "ABS") and len(sql) == 1:
        # numeric builtins over LEXICAL values: try_cast keeps the SPARQL
        # per-row expression-error semantics (NULL = unbound) where an
        # ANSI implicit cast of a non-numeric literal aborts the query.
        # ROUND is XPath fn:round — ties go toward +inf (round(-2.5) =
        # -2), not Spark's HALF_UP — so compile it as floor(x + 0.5).
        arg = f"try_cast({sql[0]} AS DOUBLE)"
        if name == "ROUND":
            return f"floor({arg} + 0.5d)"
        return f"{name.lower()}({arg})"
    if name in ("SHA256", "SHA384", "SHA512") and len(sql) == 1:
        return f"sha2({sql[0]}, {name[3:]})"
    if name == "ISNUMERIC" and len(sql) == 1:
        # numeric-literal lexical forms (xsd integer/decimal/double);
        # this engine types by lexical shape — documented approximation
        return (f"({sql[0]} rlike "
                "'^[+-]?(\\\\d+(\\\\.\\\\d*)?|\\\\.\\\\d+)"
                "([eE][+-]?\\\\d+)?$')")
    if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
                "SECONDS") and len(sql) == 1:
        g = {"YEAR": 1, "MONTH": 2, "DAY": 3, "HOURS": 4, "MINUTES": 5,
             "SECONDS": 6}[name]
        # non-dateTime lexicals: regexp_extract yields '' — NULLIF keeps
        # the SPARQL per-row expression-error semantics (unbound), where
        # an ANSI CAST('') would abort the whole query
        expr = f"nullif(regexp_extract({sql[0]}, {_XSD_DT_RE}, {g}), '')"
        if name == "SECONDS":  # xsd:decimal incl. the fraction
            return f"CAST({expr} AS DOUBLE)"
        return f"CAST({expr} AS INT)"
    if name == "TZ" and len(sql) == 1:
        return (f"regexp_extract({sql[0]}, "
                "'(Z|[+-]\\\\d{2}:\\\\d{2})$', 1)")
    if name == "TIMEZONE" and len(sql) == 1:
        # xsd:dayTimeDuration lexical of the timezone offset (SPARQL
        # 17.4.5.7): "-05:00" → -PT5H, "+05:30" → PT5H30M, Z → PT0S; a
        # value with no timezone is an expression error (NULL = unbound)
        tz = (f"regexp_extract({sql[0]}, "
              "'(Z|[+-]\\\\d{2}:\\\\d{2})$', 1)")
        hh = f"try_cast(substring({tz}, 2, 2) AS INT)"
        mm = f"try_cast(substring({tz}, 5, 2) AS INT)"
        return (
            f"(CASE WHEN {tz} = '' THEN NULL "
            f"WHEN {tz} = 'Z' OR ({hh} = 0 AND {mm} = 0) THEN 'PT0S' "
            f"ELSE concat("
            f"CASE WHEN startswith({tz}, '-') THEN '-' ELSE '' END, 'PT', "
            f"CASE WHEN {hh} > 0 THEN concat(CAST({hh} AS STRING), 'H') "
            f"ELSE '' END, "
            f"CASE WHEN {mm} > 0 THEN concat(CAST({mm} AS STRING), 'M') "
            f"ELSE '' END) END)")
    if name in ("SUBJECT", "PREDICATE", "OBJECT") and len(sql) == 1:
        # SPARQL 1.2 triple-term accessors over the stored lexical form
        # <<( s p o )>> (pipeline/rdfstar.py); a non-triple argument is an
        # expression error (NULL = unbound).  Same component regexes as
        # the quoted-triple PATTERN compiler (_quoted_components).
        x = sql[0]
        if name == "SUBJECT":
            iri = f"regexp_extract({x}, {_sql_rx(_Q_SUBJ_IRI)}, 1)"
            blank = f"regexp_extract({x}, {_sql_rx(_Q_SUBJ_BLANK)}, 1)"
            return (f"(CASE WHEN {iri} <> '' THEN {iri} "
                    f"ELSE nullif({blank}, '') END)")
        if name == "PREDICATE":
            return f"nullif(regexp_extract({x}, {_sql_rx(_Q_PRED)}, 1), '')"
        raw = f"regexp_extract({x}, {_sql_rx(_Q_OBJ)}, 1)"
        lit = f"regexp_extract({raw}, {_sql_rx(_NT_LIT_BODY)}, 1)"
        # N-Triples literal unescape, sentinel-guarded exactly like
        # _unescape_nt_col (backslash first, through char(0))
        un = f"replace({lit}, '\\\\\\\\', char(0))"
        un = f"replace({un}, '\\\\\"', '\"')"
        un = f"replace({un}, '\\\\n', '\\n')"
        un = f"replace({un}, '\\\\r', '\\r')"
        un = f"replace({un}, '\\\\t', '\\t')"
        un = f"replace({un}, char(0), '\\\\')"
        # term identity: only a PLAIN (or xsd:string — RDF 1.1 identifies
        # the two) literal unescapes to its bare body; a lang-tagged or
        # otherwise-datatyped literal keeps its full N-Triples form so
        # OBJECT(<<( s p "x"@en )>>) never compares equal to plain "x"
        sfx = f"regexp_extract({raw}, {_sql_rx(_NT_LIT_SUFFIX)}, 1)"
        return (f"(CASE WHEN {raw} = '' THEN NULL "
                f"WHEN startswith({raw}, '<<(') THEN {raw} "
                f"WHEN startswith({raw}, '<') THEN "
                f"regexp_extract({raw}, '^<(.*)>$', 1) "
                f"WHEN startswith({raw}, '_:') THEN {raw} "
                f"WHEN {sfx} NOT IN ('', '^^<{XSD_STRING}>') "
                f"THEN {raw} "
                f"ELSE {un} END)")
    if name == "SAMETERM" and len(sql) == 2:
        # two bound variables are one term when their term ids are
        ids = [f"_tid_{a[0][1:]}" for a in args
               if len(a) == 1 and a[0].startswith("?")]
        if len(ids) == 2 and cols is not None and set(ids) <= cols:
            return f"(`{ids[0]}` = `{ids[1]}`)"
        return f"({sql[0]} <=> {sql[1]})"
    raise SparqlError(f"{name} takes {len(args)} arguments?")


_KIND_TESTS = {"ISIRI": "iri", "ISURI": "iri", "ISLITERAL": "literal",
               "ISBLANK": "blank", "ISTRIPLE": "triple"}


def _lang_sql(fn: str, v: str) -> str:
    """LANG/LANGDIR/HASLANG/HASLANGDIR/DATATYPE(?v) over ?v's term columns.
    RDF 1.2 base direction rides on the stored tag as `tag--ltr|rtl`:
    LANG() returns the tag alone, LANGDIR() the direction ('' when none),
    per SPARQL 1.2 §17.4.2.  LANG, LANGDIR and DATATYPE of a term that is
    not a literal are errors (§17.4.2.6-7): NULL, so a BIND leaves its
    variable unbound."""
    base = f"coalesce(regexp_replace(`_lang_{v}`, '--(ltr|rtl)$', ''), '')"
    direction = f"coalesce(regexp_extract(`_lang_{v}`, '--(ltr|rtl)$', 1), '')"
    if fn == "HASLANG":
        return f"({base} != '')"
    if fn == "HASLANGDIR":
        return f"({direction} != '')"
    # dir-lang → rdf:dirLangString; lang → rdf:langString; plain → its
    # datatype, default xsd:string
    rdf_ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    value = {"LANG": base, "LANGDIR": direction}.get(fn) or (
        f"CASE WHEN {direction} != '' THEN '{rdf_ns}dirLangString' "
        f"WHEN `_lang_{v}` IS NOT NULL THEN '{rdf_ns}langString' "
        f"ELSE coalesce(`_dt_{v}`, '{XSD_STRING}') END")
    return f"(CASE WHEN `_kind_{v}` = 'literal' THEN {value} END)"


def _filter_sql(toks: list[str], cols: set[str] | None = None) -> str:
    """FILTER token list → Spark SQL expression (token-level, so quoted
    strings and nested parens are structurally safe).  ``cols`` is the
    compiling plan's column set — used by macros that consult hidden
    metadata columns (sameTerm)."""
    out = []
    i = 0
    while i < len(toks):
        t = toks[i]
        up = t.upper()
        if t.startswith("?"):
            # a variable the group never binds is UNBOUND: references
            # evaluate to NULL (expression error), not an analysis crash
            # — COALESCE(?never, ?x) must fall through to ?x
            if cols is not None and t[1:] not in cols:
                out.append("CAST(NULL AS STRING)")
            else:
                out.append(f"`{t[1:]}`")
        elif t.startswith('"'):
            out.append(_sql_str(t))
        elif up in _MACRO_FUNCS:
            args, i = _parse_call_args(toks, i + 1)
            out.append(_expand_macro(up, args, cols))
            continue
        elif up in _NONDET_FUNCS and toks[i + 1 : i + 2] == ["("]:
            raise SparqlError(
                f"{up}() is non-deterministic — a distributed engine "
                "re-evaluates expressions per partition and retry, which "
                "cannot honor its single-evaluation semantics")
        elif up == "BOUND":
            if i + 3 >= len(toks) or toks[i + 1] != "(" or toks[i + 3] != ")":
                raise SparqlError("BOUND takes one variable")
            var = toks[i + 2]
            if not var.startswith("?"):
                raise SparqlError("BOUND takes one variable")
            if cols is not None and var[1:] not in cols:
                out.append("false")  # never-bound variable
            else:
                out.append(f"(`{var[1:]}` IS NOT NULL)")
            i += 4
            continue
        elif up in ("LANG", "DATATYPE", "LANGDIR", "HASLANG", "HASLANGDIR") \
                or up in _KIND_TESTS:
            if i + 3 >= len(toks) or toks[i + 1] != "(" \
                    or not toks[i + 2].startswith("?") or toks[i + 3] != ")":
                raise SparqlError(f"{up} takes one variable")
            v = toks[i + 2][1:]
            i += 4
            if cols is not None and v not in cols:
                out.append("CAST(NULL AS STRING)")  # unbound
            elif up in _KIND_TESTS:
                out.append(f"(`_kind_{v}` = '{_KIND_TESTS[up]}')")
            else:
                out.append(_lang_sql(up, v))
            continue
        elif up in _FILTER_FUNCS:
            out.append(_FILTER_FUNCS[up])
        elif t == "&&":
            out.append("AND")
        elif t == "||":
            out.append("OR")
        elif t == "=":
            out.append("==")
        elif t == "!":
            out.append("NOT " if toks[i + 1 : i + 2] != ["="] else t)
        else:
            out.append(t)
        i += 1
    return " ".join(out)


def _zero_length(edges: DataFrame, per_graph: bool = False,
                 seed=None) -> DataFrame:
    """Zero-length path pairs of `*` and `?` (SPARQL 1.1 §18.5): (c, c)
    for a constant endpoint's id c (``seed``), in the graph or not, else
    (n, n) over every graph node (per named graph, carrying ``_pg``)."""
    if seed is not None:
        return edges.sparkSession.range(1).select(
            seed.alias("_ps"), seed.alias("_po"))
    g = [F.col("graph_id").alias("_pg")] if per_graph else []
    nodes = (
        edges.select(*g, F.col("subj_id").alias("_ps"))
        .union(edges.select(*g, F.col("obj_id")))
        .distinct()
    )
    return nodes.select(*(["_pg"] if per_graph else []), "_ps",
                        F.col("_ps").alias("_po"))


# a property-path closure whose step relation grows past this many pairs
# raises SparqlError
_MAX_CLOSURE_PAIRS = 20_000_000


def _compile_path(edges: DataFrame, node: tuple,
                  prefixes: dict[str, str],
                  per_graph: bool = False,
                  subj=None, obj=None) -> DataFrame:
    """Property path over the id edges of :func:`_id_edges` → distinct
    (_ps, _po) endpoint term-id pairs (plus ``_pg``, the containing named
    graph, when ``per_graph`` — the GRAPH ?var case: each graph's closure
    is computed independently by keying every join on the graph column
    too).

    ``subj``/``obj`` are the term ids of the pattern's constant
    endpoints, if any.  The result always holds every pair with those
    endpoints and may hold others; the caller filters on the constants.

    A closure (`+`/`*`) runs one loop over the id pairs.  The step
    relation starts as the one-step pairs, and each round squares it
    (adds its composition with itself), doubling the path lengths it
    covers, so a D-hop chain closes in about log2(D) rounds.  A constant
    endpoint seeds the closure (a bound object alone through the inverse
    relation; with both bound, the subject): the seed's reach is the step
    relation's pairs from the seed, and the loop squares only while that
    reach still grows, so a seed with no step of its own costs one count
    of the one-step pairs and no squaring.  Without a constant (and per
    graph) the loop squares to a fixpoint.  There is no round cap; a
    closure whose step relation passes ``_MAX_CLOSURE_PAIRS`` raises
    SparqlError instead of returning a truncated answer.  `*` and `?` add
    the zero-length pairs of SPARQL 1.1 §18.5 (:func:`_zero_length`); a
    constant endpoint gives the pair (c, c) of its id, so a seeded `?`
    reads no graph node."""
    kind = node[0]
    g_sel = [F.col("graph_id").alias("_pg")] if per_graph else []
    g_cols = ["_pg"] if per_graph else []

    def pairs(cond, ps="subj_id", po="obj_id"):
        return edges.where(cond).select(*g_sel, F.col(ps).alias("_ps"),
                                        F.col(po).alias("_po"))

    if kind == "iri":
        return pairs(F.col("pred_id") == _iri_id(_expand(node[1], prefixes))
                    ).distinct()
    if kind == "inv":
        p = _compile_path(edges, node[1], prefixes, per_graph,
                          subj=obj, obj=subj)
        return p.select(*g_cols, F.col("_po").alias("_ps"),
                        F.col("_ps").alias("_po"))
    if kind == "seq":
        left = _compile_path(edges, node[1], prefixes, per_graph)
        right = (
            _compile_path(edges, node[2], prefixes, per_graph)
            .withColumnRenamed("_ps", "_ms").withColumnRenamed("_po", "_mo")
        )
        return (
            left.withColumnRenamed("_po", "_ms")
            .join(right, g_cols + ["_ms"])
            .select(*g_cols, "_ps", F.col("_mo").alias("_po"))
            .distinct()
        )
    if kind == "alt":
        return (
            _compile_path(edges, node[1], prefixes, per_graph, subj, obj)
            .unionByName(_compile_path(edges, node[2], prefixes,
                                       per_graph, subj, obj))
            .distinct()
        )
    if kind == "neg":
        # §18.4: !(P|^Q) = NPS over the forward set UNION the inverse of
        # the NPS over the inverse set; a part exists only when its set
        # does (plus the forward part for plain !p)
        parts = []
        if node[1] or not node[2]:
            fwd = [_iri_id(_expand(t, prefixes)) for t in node[1]]
            parts.append(pairs(~F.col("pred_id").isin(fwd)))
        if node[2]:
            inv = [_iri_id(_expand(t, prefixes)) for t in node[2]]
            parts.append(pairs(~F.col("pred_id").isin(inv),
                              "obj_id", "subj_id"))
        out = parts[0]
        if len(parts) == 2:
            out = out.unionByName(parts[1])
        return out.distinct()
    if kind == "opt":
        # zero-or-one: the base pairs plus the zero-length pairs
        seed = None if per_graph else (subj if subj is not None else obj)
        base = _compile_path(edges, node[1], prefixes, per_graph, subj, obj)
        return base.unionByName(
            _zero_length(edges, per_graph, seed)).distinct()
    if kind in ("plus", "star"):
        base = _compile_path(edges, node[1], prefixes, per_graph)
        seed = None if per_graph else (subj if subj is not None else obj)
        # a bound object alone seeds the inverse relation
        src, dst = (("_po", "_ps") if seed is not None and subj is None
                    else ("_ps", "_po"))
        # the pairs whose growth keeps the loop going: the seed's, or all.
        # After round k the step relation holds every path of 1..2^k hops,
        # so a round that adds no pair from the seed shows that no node
        # lies 2^(k-1)+1 hops from it, hence none further
        growing = F.col("_ps") == seed if seed is not None else F.lit(True)
        step = base.select(*g_cols, F.col(src).alias("_ps"),
                           F.col(dst).alias("_po"))
        counts, grown = {}, True
        while grown:
            # a lazy checkpoint: the count below materializes it
            step = step.localCheckpoint(eager=False)
            prev, counts = counts, dict(
                step.groupBy(growing).count().collect())
            if sum(counts.values()) > _MAX_CLOSURE_PAIRS:
                raise SparqlError(
                    f"property-path closure passed {_MAX_CLOSURE_PAIRS} "
                    "pairs; bind an endpoint or narrow the path")
            grown = counts.get(True, 0) > prev.get(True, 0)
            if grown:
                step = step.union(
                    step.withColumnRenamed("_po", "_mid")
                    .join(step.withColumnRenamed("_ps", "_mid"),
                          g_cols + ["_mid"])
                    .select(*g_cols, "_ps", "_po")
                ).distinct()
        if seed is not None:
            far = step.where(growing)
            if kind == "star":
                # the zero-length path of `*` reaches the seed itself
                far = far.union(_zero_length(edges, seed=seed)).distinct()
            return far.select(F.col(src).alias("_ps"),
                              F.col(dst).alias("_po"))
        if kind == "star":
            return step.unionByName(
                _zero_length(edges, per_graph)).distinct()
        return step
    raise SparqlError(f"unknown path node {node!r}")  # pragma: no cover


# quoted-triple component extraction: Catalyst regexps over the canonical
# <<( s p o )>> form that rdfstar.triple_term writes
_Q_SUBJ_IRI = r"^<<\( <([^>]*)> "
_Q_SUBJ_BLANK = r"^<<\( (" + _BLANK_LABEL + ") "
_Q_PRED = r"^<<\( (?:<[^>]*>|" + _BLANK_LABEL + r") <([^>]*)> "
_Q_OBJ = r"^<<\( (?:<[^>]*>|" + _BLANK_LABEL + r") <[^>]*> (.*) \)>>$"


def _unescape_nt_col(col):
    """N-Triples literal unescape, JVM-side: \\\\ \\" \\n \\r \\t.
    The backslash pass goes through a sentinel so later passes cannot
    double-decode (e.g. the '\\\\n' in 'a\\\\nb' must yield backslash+n)."""
    c = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    c = F.replace(c, F.lit('\\"'), F.lit('"'))
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\\r"), F.lit("\r"))
    c = F.replace(c, F.lit("\\t"), F.lit("\t"))
    return F.replace(c, F.lit("\x00"), F.lit("\\"))


def _dedupe_repeated_vars(scan: DataFrame, rename: dict[str, str]
                          ) -> tuple[DataFrame, dict[str, str]]:
    """A legal path pattern may repeat a variable ('?x <p>+ ?x'): keep ONE
    source column per variable and compile the repeats into equality
    constraints — two identically-aliased projections would be an
    AMBIGUOUS_REFERENCE at join time."""
    first: dict[str, str] = {}
    out: dict[str, str] = {}
    for col, var in rename.items():
        if var in first:
            scan = scan.where(F.col(first[var]) == F.col(col))
        else:
            first[var] = col
            out[col] = var
    return scan, out


def _quoted_components(lex) -> dict[str, dict]:
    """The subject, predicate and object of the triple term whose
    canonical form is ``lex``, each as its ``kg.term_columns``."""
    iri = F.regexp_extract(lex, _Q_SUBJ_IRI, 1)
    subj = F.when(iri != "", iri) \
        .otherwise(F.regexp_extract(lex, _Q_SUBJ_BLANK, 1))
    raw = F.regexp_extract(lex, _Q_OBJ, 1)
    kind = (F.when(raw.startswith("<<("), "triple")
            .when(raw.startswith("<"), "iri")
            .when(raw.startswith("_:"), "blank").otherwise("literal"))
    obj = (F.when(kind == "iri", F.regexp_extract(raw, r"^<(.*)>$", 1))
           .when(kind == "literal",
                 _unescape_nt_col(F.regexp_extract(raw, _NT_LIT_BODY, 1)))
           .otherwise(raw))
    lang = F.regexp_extract(raw, r'^"(?:[^"\\]|\\.)*"@([A-Za-z0-9\-]+)$', 1)
    dt = F.regexp_extract(raw, r'^"(?:[^"\\]|\\.)*"\^\^<([^>]*)>$', 1)
    return {"subj": term_columns(subject_kind(subj), subj),
            "pred": term_columns(F.lit("iri"),
                                 F.regexp_extract(lex, _Q_PRED, 1)),
            "obj": term_columns(kind, obj, F.nullif(dt, F.lit("")),
                                F.nullif(lang, F.lit("")))}


def _compile_quoted(src: "DataFrame | _Warehouse", pat: _Pattern,
                    prefixes: dict[str, str], idx: int, needed: set[str],
                    extra: dict[str, str] | None = None
                    ) -> tuple[DataFrame, set[str]]:
    """A pattern whose object is a quoted triple (SPARQL 1.2).  Its
    subject and predicate compile as a run pattern whose object is a
    hidden variable; that id joins the ``triple`` terms of the source's
    dictionary, each parsed once into its components.  A component's
    constant filters the dictionary rows, and its variable binds the
    component's id (and its term, where the query reads it) or, when the
    outer pattern binds it too, joins on it."""
    if isinstance(pat.pred, tuple):
        raise SparqlError("property paths cannot carry quoted-triple objects")
    tt = f"_q{idx}"
    plan, outer = _compile_run_ids(
        src, [_Pattern(pat.subj, pat.pred, f"?{tt}")], prefixes, needed,
        extra)
    comps = _quoted_components(F.col("lexical"))
    triples = _terms(src).where(F.col("kind") == "triple")
    inner: dict[str, dict] = {}
    for slot, tok in zip(comps, (pat.obj.subj, pat.obj.pred, pat.obj.obj)):
        term = comps[slot]
        if not tok.startswith("?"):
            triples = triples.where(
                term["term_id"] == _const_id(_const_term(tok, prefixes)))
        elif tok[1:] in inner:
            triples = triples.where(term["term_id"]
                                    == inner[tok[1:]]["term_id"])
        else:
            inner[tok[1:]] = term
    proj = [F.col("term_id").alias(f"_tid_{tt}")]
    for v, term in inner.items():
        proj += ([term["term_id"].alias(f"_tid_{v}")]
                 if v in outer or v not in needed else _bind_cols(term, v))
    keys = [f"_tid_{v}" for v in [tt, *sorted(outer & set(inner))]]
    plan = plan.join(triples.select(*proj), keys).drop(f"_tid_{tt}")
    vars_ = (outer | set(inner)) - {tt}
    if not vars_:
        return plan.select(F.lit(1).alias(f"_m{idx}")).limit(1), vars_
    return plan, vars_


def _compile_pattern(src: "DataFrame | _Warehouse", pat: _Pattern,
                     prefixes: dict[str, str], idx: int, needed: set[str],
                     extra: dict[str, str] | None = None
                     ) -> tuple[DataFrame, set[str]]:
    """A property-path or quoted-triple pattern; plain patterns compile
    in :func:`_compile_run_ids`.  A path runs over the source's id edges,
    and its ``needed`` endpoint variables decode through the source's
    term dictionary."""
    if isinstance(pat.obj, _Quoted):
        return _compile_quoted(src, pat, prefixes, idx, needed, extra)
    per_graph = False
    rename: dict[str, str] = {}
    if extra:
        if set(extra) != {"graph"}:
            raise SparqlError("property paths inside nested GRAPH "
                              "scopes are not supported")
        # GRAPH ?var: each named graph's path relation (and closure)
        # is computed independently, keyed on the graph column
        per_graph = True
        rename["_pg"] = extra["graph"]
    ends = {"_ps": pat.subj, "_po": pat.obj}
    consts = {col: term for col, term in ends.items()
              if not term.startswith("?")}
    ids = {col: _const_id(_const_term(t, prefixes))
           for col, t in consts.items()}
    # the closure starts from the bound endpoints
    scan = _compile_path(_id_edges(src), pat.pred, prefixes, per_graph,
                         subj=ids.get("_ps"), obj=ids.get("_po"))
    for col, term in ends.items():
        if col in ids:
            scan = scan.where(F.col(col) == ids[col])
        else:
            rename[col] = term[1:]
    out_vars = set(rename.values())
    scan, rename = _dedupe_repeated_vars(scan, rename)
    proj = [F.col(c).alias(f"_tid_{v}") for c, v in rename.items()]
    if not proj:
        return scan.select(F.lit(1).alias(f"_m{idx}")).limit(1), out_vars
    # a zero-length path binds the variable end to the constant one,
    # which the graph need not hold
    const = next(((ids[c], _const_term(t, prefixes))
                  for c, t in consts.items()), None)
    return _decode(src, scan.select(*proj).distinct(), out_vars & needed,
                   const), out_vars


def _compat_parts_join(plan: DataFrame, scan: DataFrame, keys: list[str],
                       left_null: set[str], right_null: set[str]
                       ) -> DataFrame:
    """SPARQL §10.2 compatibility join as a UNION of plain equi-joins —
    the scale path (a theta join with ``IS NULL OR =`` disjuncts forces a
    broadcast-nested-loop, quadratic on large inputs).

    Textbook rewrite: partition each side by its null signature over the
    nullable shared keys; a (left-part, right-part) pair joins on exactly
    the keys bound on BOTH sides — hash-joinable equality on their term
    ids — and the parts union back, re-binding each key from whichever
    side bound it.  2^|left_null| · 2^|right_null| parts; callers cap the
    nullable-key count (more than 2-3 compat keys in one join is not a
    real query).  The all-null × all-null pairing is a genuine product
    per the spec (every solution pair is compatible); its inputs are only
    the rows unbound on EVERY shared key (UNDEF cells / OPTIONAL
    misses)."""
    ren = {v: f"_cj_{v}" for v in keys}
    scan2 = _rename_vars(scan, ren)
    # each input subtree appears once PER PART in the unioned plan; past
    # a handful of parts (>2 nullable keys on a side, or a chain of
    # compat joins whose left input is already a part-union) that means
    # re-executing the same upstream work 2^k times — truncate lineage
    # with a lazy localCheckpoint so the parts share one materialized
    # input instead (the common 1-key cases stay pure Catalyst).  NB:
    # localCheckpoint stores partitions unreplicated on executors — fine
    # in local mode (this repo's deployment); on a cluster with executor
    # loss or dynamic allocation prefer reliable checkpointing here
    n_parts = (1 << len(left_null)) * (1 << len(right_null))
    if n_parts > 4:
        plan = plan.localCheckpoint(eager=False)
        scan2 = scan2.localCheckpoint(eager=False)

    def _parts(df, null_vars, col_of):
        out = []
        for bits in range(1 << len(null_vars)):
            sig = {v for i, v in enumerate(null_vars) if bits >> i & 1}
            part = df
            for v in null_vars:
                c = F.col(f"_tid_{col_of(v)}")
                part = part.where(c.isNull() if v in sig else c.isNotNull())
            out.append((sig, part))
        return out

    joined = []
    for s_sig, lp in _parts(plan, sorted(left_null), str):
        for t_sig, rp in _parts(scan2, sorted(right_null), ren.get):
            jk = [k for k in keys if k not in s_sig and k not in t_sig]
            if jk:
                cond = None
                for v in jk:
                    c = F.col(f"_tid_{v}") == F.col(f"_tid_{ren[v]}")
                    cond = c if cond is None else cond & c
                joined.append(lp.join(rp, cond, "inner"))
            else:
                joined.append(lp.crossJoin(rp))
    out = joined[0]
    for p in joined[1:]:
        out = out.unionByName(p)
    return _merge_vars(out, ren)


def _join(plan: DataFrame, bound: set[str], scan: DataFrame,
          vars_: set[str], how: str,
          nullable: set[str] | None = None,
          scan_nullable: set[str] | None = None,
          deferred: list[list[str]] | None = None
          ) -> tuple[DataFrame, set[str]]:
    """Join the next group element on the shared variables' term ids.
    ``nullable`` names plan variables that may be NULL = unbound (VALUES
    UNDEF cells, OPTIONAL misses), ``scan_nullable`` the same for the
    incoming element: shared keys among them use SPARQL §10.2
    compatibility (NULL on the nullable side matches anything, then the
    key re-binds from whichever side bound it) instead of an equi-join
    that would silently drop the unbound rows.  Inner compatibility joins
    re-bind a key unless BOTH sides can be unbound; left joins keep
    plan-side nullability; non-key scan vars that may be unbound
    propagate into ``nullable``."""
    keys = sorted(bound & vars_)
    left_null = {k for k in keys if nullable and k in nullable}
    right_null = {k for k in keys if scan_nullable and k in scan_nullable}
    null_keys = sorted(left_null | right_null)
    if (null_keys and not deferred and how == "inner"
            and len(null_keys) <= 3):
        # inner compatibility join without extra ON conditions: take the
        # union-of-equi-joins scale path instead of a theta join
        plan = _compat_parts_join(plan, scan, keys, left_null, right_null)
        if nullable is not None:
            # a key re-binds (stops being nullable) unless BOTH sides
            # could be unbound for it
            nullable -= {k for k in null_keys
                         if not (k in left_null and k in right_null)}
            nullable |= {v for v in (scan_nullable or ())
                         if v not in keys}
        return plan, bound | vars_
    if null_keys or deferred:
        ren = {v: f"_cj_{v}" for v in keys}
        scan2 = _rename_vars(scan, ren)
        cond = None
        for v in keys:
            a, b = F.col(f"_tid_{v}"), F.col(f"_tid_{ren[v]}")
            c = a == b
            if v in left_null:
                c = a.isNull() | c
            if v in right_null:
                c = b.isNull() | c
            cond = c if cond is None else cond & c
        # deferred OPTIONAL filters referencing enclosing-scope vars join
        # the ON condition (SPARQL left-join semantics: condition false /
        # error keeps the left row unextended).  Scan-side keys were
        # renamed, so each var resolves unambiguously: keys + outer vars
        # to the plan side, non-key subgroup vars to the scan side.
        cols_all = set(plan.columns) | set(scan2.columns)
        for ftoks in deferred or []:
            fc = F.expr(_filter_sql(ftoks, cols_all))
            cond = fc if cond is None else cond & fc
        plan = _merge_vars(
            plan.join(scan2, cond if cond is not None else F.lit(True), how),
            ren)
        if how == "inner" and nullable is not None:
            nullable -= {k for k in null_keys
                         if not (k in left_null and k in right_null)}
    elif keys:
        # a key's decoded columns come from the plan when it holds them
        scan = scan.drop(*[c for k in keys for c in _decoded_cols(k)
                           if c in plan.columns])
        plan = plan.join(scan, [f"_tid_{k}" for k in keys], how)
    elif how == "left":
        raise SparqlError("OPTIONAL group shares no variables with the "
                          "preceding patterns")
    else:
        plan = plan.crossJoin(scan)  # genuinely disconnected patterns
    if nullable is not None and scan_nullable:
        nullable |= {v for v in scan_nullable if v not in keys}
    return plan, bound | vars_


def _pattern_vars(p: _Pattern) -> set[str]:
    out = set()
    terms = [p.subj]
    if isinstance(p.pred, str):
        terms.append(p.pred)
    if isinstance(p.obj, _Quoted):
        terms += [p.obj.subj, p.obj.pred, p.obj.obj]
    else:
        terms.append(p.obj)
    for t in terms:
        if t.startswith("?"):
            out.add(t[1:])
    return out


def _selectivity(p: _Pattern) -> int:
    """Classic bound-term heuristic: constants in subject > predicate >
    object position; property paths are the least selective."""
    score = 0
    if not p.subj.startswith("?"):
        score += 4
    if isinstance(p.pred, tuple):
        score -= 2  # path closure: potentially large endpoint relation
    elif not p.pred.startswith("?"):
        score += 2
    obj_terms = ([p.obj.subj, p.obj.pred, p.obj.obj]
                 if isinstance(p.obj, _Quoted) else [p.obj])
    score += sum(1 for t in obj_terms if not t.startswith("?"))
    return score


def _reorder_patterns(patterns: list[_Pattern]) -> list[_Pattern]:
    """Greedy join ordering for a run of inner-joined triple patterns:
    start from the most selective, always prefer a pattern connected to the
    already-bound variables (avoiding cross joins unless the BGP is
    genuinely disconnected).  Inner joins commute and filters apply at
    group scope, so this is semantics-preserving."""
    remaining = list(patterns)
    out: list[_Pattern] = []
    bound: set[str] = set()
    while remaining:
        connected = [p for p in remaining
                     if not bound or (_pattern_vars(p) & bound)]
        pool = connected or remaining
        best = max(pool, key=_selectivity)
        remaining.remove(best)
        out.append(best)
        bound |= _pattern_vars(best)
    return out


def _group_runs(elements: list) -> list:
    """Reorder each maximal stretch of triple patterns and batch its
    consecutive plain patterns (no property path, no quoted triple) into
    one ``("bgp_run", patterns)`` element.  FILTER and EXISTS apply at
    the end of the group (§18.2), so they do not end a stretch; order
    across OPTIONAL/MINUS/BIND/... boundaries is preserved (those are
    sequence-sensitive in the SPARQL algebra)."""
    out: list = []
    stretch: list[_Pattern] = []

    def flush():
        for pat in _reorder_patterns(stretch):
            if isinstance(pat.pred, tuple) or isinstance(pat.obj, _Quoted):
                out.append(pat)
            elif out and isinstance(out[-1], tuple) \
                    and out[-1][0] == "bgp_run":
                out[-1][1].append(pat)
            else:
                out.append(("bgp_run", [pat]))
        stretch.clear()

    for el in elements:
        if isinstance(el, _Pattern):
            stretch.append(el)
        elif el[0] in ("filter", "exists"):
            out.append(el)
        else:
            flush()
            out.append(el)
    flush()
    return out


def _expr_vars(elements: list) -> set[str]:
    """Variables whose values a group's expressions read: FILTER and BIND
    arguments, and those of the filters and BINDs inside an OPTIONAL or
    EXISTS, which may read the group's own bindings."""
    out: set[str] = set()
    for el in elements:
        if not isinstance(el, tuple):
            continue
        if el[0] in ("filter", "bind"):
            out |= {t[1:] for t in el[1] if t.startswith("?")}
        elif el[0] in ("optional", "exists"):
            out |= _expr_vars(el[-1].elements)
    return out


def _all_vars(obj) -> set[str]:
    """Every ?var mentioned anywhere inside a parsed element (patterns,
    filter token lists, subgroups, VALUES, BIND, subselect tokens...)."""
    if isinstance(obj, _Pattern):
        return _pattern_vars(obj)
    if isinstance(obj, _Group):
        out: set[str] = set()
        for el in obj.elements:
            out |= _all_vars(el)
        return out
    if isinstance(obj, str):
        return {obj[1:]} if obj.startswith("?") else set()
    if isinstance(obj, tuple) and obj:
        # element shapes that store var names WITHOUT the '?' prefix
        if obj[0] == "values":
            return set(obj[1])
        if obj[0] == "bind":
            return _all_vars(obj[1]) | {obj[2]}
    if isinstance(obj, (list, tuple)):
        out = set()
        for item in obj:
            out |= _all_vars(item)
        return out
    return set()


# --- terms and BGP runs ------------------------------------------------------
# A variable ?v binds one RDF term.  ``_tid_v`` holds its kg.term_id (the
# warehouse's own id over the term's kind/lexical/datatype/lang identity)
# and every join keys on it, so intermediate joins shuffle longs and a
# literal "x" never joins an IRI "x"; where the query reads ?v's value,
# ``v`` holds the lexical form and ``_kind_v``/``_dt_v``/``_lang_v`` the
# rest of the term.  Unbound is null in every column.  Every plain triple
# pattern compiles inside a run of consecutive plain patterns, on a
# lexical frame and on the warehouse alike; a variable a pattern repeats
# is an id-equality filter.

# a variable's column prefix → the term-dictionary column it holds
_TERM_COLS = {"_tid_": "term_id", "": "lexical", "_kind_": "kind",
              "_dt_": "datatype", "_lang_": "lang"}


def _decoded_cols(v: str) -> list[str]:
    return [f"{p}{v}" for p in _TERM_COLS if p != "_tid_"]


def _bind_cols(term: dict, v: str) -> list:
    """``term`` ({dictionary column: Column}) as the columns of ?v."""
    return [term[c].alias(f"{p}{v}") for p, c in _TERM_COLS.items()]


@lru_cache(maxsize=256)
def _dict_cols(v: str) -> tuple:
    """A term dictionary's columns as those of ?v (cached: each Column
    costs a JVM round trip to build)."""
    return tuple(F.col(c).alias(f"{p}{v}") for p, c in _TERM_COLS.items())


def _rename_vars(df: DataFrame, ren: dict[str, str]) -> DataFrame:
    """``df`` with the term columns of each variable v in ``ren`` renamed
    to those of ``ren[v]``."""
    names = {f"{p}{v}": f"{p}{w}" for v, w in ren.items() for p in _TERM_COLS}
    return df.select(*[F.col(c).alias(names.get(c, c)) for c in df.columns])


def _merge_vars(df: DataFrame, ren: dict[str, str]) -> DataFrame:
    """Undo :func:`_rename_vars` on one side of a join: each variable
    binds from whichever side binds it (both bind one term, or one side
    leaves it unbound)."""
    back = {f"{p}{w}": f"{p}{v}" for v, w in ren.items() for p in _TERM_COLS}
    moved = {back[c]: c for c in df.columns if c in back}
    keep = [c for c in df.columns if c not in back]
    return df.select(
        *[F.coalesce(c, moved[c]).alias(c) if c in moved else F.col(c)
          for c in keep],
        *[F.col(r).alias(c) for c, r in moved.items() if c not in keep])


_LEX_COLS = {"subj": "subj", "pred": "pred", "obj": "obj_lexical",
             "graph": "graph"}
_SLOT_TERMS: dict[tuple[str, ...], dict] = {}


def _slot_terms(columns) -> dict[str, dict]:
    """Each slot of a lexical frame with ``columns`` as an RDF term:
    ``{slot: kg.term_columns}`` (a frame that records no datatype/lang
    hashes them as absent)."""
    key = tuple(c for c in ("obj_datatype", "obj_lang") if c in columns)
    if key not in _SLOT_TERMS:
        meta = [F.col(c) if c in key else None
                for c in ("obj_datatype", "obj_lang")]
        _SLOT_TERMS[key] = {slot: term_columns(
            F.col("obj_kind") if slot == "obj" else F.lit("iri")
            if slot == "pred" else subject_kind(F.col(col)),
            F.col(col), *(meta if slot == "obj" else ()))
            for slot, col in _LEX_COLS.items()}
    return _SLOT_TERMS[key]


@dataclass
class _Warehouse:
    """The pipeline's dictionary-encoded tables as a query source (see
    :func:`query_encoded`): every element scans the id columns of
    ``edges`` and reads terms from ``terms``."""

    edges: DataFrame
    terms: DataFrame

    @property
    def sparkSession(self):
        return self.edges.sparkSession


def _id_edges(src: "DataFrame | _Warehouse") -> DataFrame:
    """The source's edges as term ids (subj_id, pred_id, obj_id[,
    graph_id])."""
    if isinstance(src, _Warehouse):
        return src.edges.select("subj_id", "pred_id", "obj_id")
    slots = _slot_terms(src.columns)
    return src.select(*[slots[s]["term_id"].alias(f"{s}_id")
                        for s, c in _LEX_COLS.items() if c in src.columns])


def _terms(src: "DataFrame | _Warehouse") -> DataFrame:
    """The source's term dictionary (term_id, kind, lexical, datatype,
    lang), one row per id; a lexical frame's holds its subjects, objects
    and graphs, each id in the spelling ``kg.one_row_per_id`` picks."""
    if isinstance(src, _Warehouse):
        return src.terms
    slots = _slot_terms(src.columns)
    parts = [src.select(*[e.alias(c) for c, e in slots[s].items()])
             for s in ("subj", "obj", "graph") if _LEX_COLS[s] in src.columns]
    out = parts[0]
    for part in parts[1:]:
        out = out.union(part)
    return one_row_per_id(out.where(F.col("lexical").isNotNull()))


def _decode(src: "DataFrame | _Warehouse", plan: DataFrame, vars_: set[str],
            const: tuple | None = None) -> DataFrame:
    """``plan`` with each of ``vars_`` (held as ``_tid_`` ids) decoded
    through the source's term dictionary.  ``const`` = (id Column, term):
    a query constant the variables may bind although the dictionary does
    not hold it."""
    terms = _terms(src)
    for v in sorted(vars_):
        plan = plan.join(terms.select(*_dict_cols(v)), f"_tid_{v}",
                         "inner" if const is None else "left")
        if const is not None:
            hit = F.col(f"_tid_{v}") == const[0]
            plan = plan.withColumns({
                f"{p}{v}": F.coalesce(
                    f"{p}{v}", F.when(hit, F.lit(x).cast("string")))
                for p, x in zip(("_kind_", "", "_dt_", "_lang_"), const[1])})
    return plan


def _const_term(tok: str, prefixes: dict[str, str]) -> tuple:
    """The RDF term a constant token denotes: (kind, lexical, datatype,
    lang).  A bare number or boolean is an xsd:integer/decimal/boolean
    literal (SPARQL 1.1 §4.1.2)."""
    if tok.startswith('"'):
        value, lang, dt = _literal_parts(tok, prefixes)
        return ("literal", value, dt, lang)
    if _PLAIN_SCALAR.match(tok):
        dt = ("boolean" if tok in ("true", "false")
              else "decimal" if "." in tok else "integer")
        return ("literal", tok, XSD + dt, None)
    if tok.startswith("_:"):
        return ("blank", tok, None, None)
    return ("iri", _expand(tok, prefixes), None, None)


def _const_id(term: tuple):
    """``kg.term_id`` of a (kind, lexical, datatype, lang) constant, a
    literal Catalyst folds."""
    return term_id(*[None if x is None else F.lit(x) for x in term])


def _iri_id(iri: str):
    return _const_id(("iri", iri, None, None))


def _computed_term(v: str, kind: str = "literal", dt: str | None = None,
                   lang: str | None = None) -> dict:
    """The term columns of a computed ?v: the term of ``kind`` (datatype
    ``dt``, language ``lang``) whose lexical form is ?v's value; null in
    every column where ?v is unbound."""
    is_bound = F.col(v).isNotNull()
    meta = {"_kind_": kind, "_dt_": dt, "_lang_": lang}
    return {f"_tid_{v}": F.when(is_bound, term_id(
        F.lit(kind), F.col(v).cast("string"),
        *[None if x is None else F.lit(x) for x in (dt, lang)]))} | {
        f"{p}{v}": F.when(is_bound, F.lit(x).cast("string"))
        for p, x in meta.items()}


def _values_frame(spark, vars_: list[str], rows: list[tuple],
                  prefixes: dict[str, str]) -> DataFrame:
    """VALUES rows → a frame binding each variable to the term its token
    denotes; an UNDEF cell is null in every column."""
    meta = ("_kind_", "", "_dt_", "_lang_")  # _const_term's order
    data = [tuple(x for t in row for x in (
        (None,) * 4 if t is None else _const_term(t, prefixes)))
        for row in rows]
    df = spark.createDataFrame(data, ", ".join(
        f"`{p}{v}` string" for v in vars_ for p in meta))
    return df.withColumns({f"_tid_{v}": F.when(
        F.col(f"_kind_{v}").isNotNull(),
        term_id(*[F.col(f"{p}{v}") for p in meta])) for v in vars_})


def _warehouse_scan(wh: _Warehouse, pat: _Pattern, prefixes: dict[str, str]
                    ) -> tuple[DataFrame, dict[str, str]]:
    """:func:`_lexical_scan` over the edge table: each constant filters
    its id column on its ``kg.term_id``, which Catalyst folds to a
    literal."""
    rename: dict[str, str] = {}
    cond = None
    for slot, term in (("subj", pat.subj), ("pred", pat.pred),
                       ("obj", pat.obj)):
        if term.startswith("?"):
            rename[slot] = term[1:]
            continue
        c = F.col(f"{slot}_id") == _const_id(_const_term(term, prefixes))
        cond = c if cond is None else cond & c
    return (wh.edges if cond is None else wh.edges.where(cond)), rename


def _lexical_scan(triples: DataFrame, pat: _Pattern,
                  prefixes: dict[str, str]
                  ) -> tuple[DataFrame, dict[str, str]]:
    """Constant-filtered scan + {slot: var} map for one plain pattern over
    a lexical frame.  A literal constant (or a bare number) is its term
    id, behind a cheap lexical-form prefilter; a frame that records no
    datatype/lang hashes the constant's as absent, as it hashes its own."""
    scan = triples
    rename: dict[str, str] = {}
    for slot, term in (("subj", pat.subj), ("pred", pat.pred),
                       ("obj", pat.obj)):
        if term.startswith("?"):
            rename[slot] = term[1:]
            continue
        col = F.col(_LEX_COLS[slot])
        if slot == "obj" and (term.startswith('"')
                              or _PLAIN_SCALAR.match(term)):
            kind, value, dt, lang = _const_term(term, prefixes)
            cols = triples.columns
            tid = _const_id((kind, value,
                             dt if "obj_datatype" in cols else None,
                             lang if "obj_lang" in cols else None))
            scan = scan.where((col == value) & (
                _slot_terms(cols)["obj"]["term_id"] == tid))
            continue
        if slot == "obj":
            scan = scan.where(F.col("obj_kind") == "iri")
        scan = scan.where(col == _expand(term, prefixes))
    return scan, rename


def _compile_run_ids(src: DataFrame | _Warehouse, run: list[_Pattern],
                     prefixes: dict[str, str], needed: set[str],
                     extra: dict[str, str] | None = None
                     ) -> tuple[DataFrame, set[str]]:
    """A run of plain patterns → solutions joined on ``_tid_`` ids, with
    the ``needed`` variables decoded; join-only variables stay ids.  A
    variable that a pattern repeats is one term, so its slots' ids must
    be equal; ``extra`` (GRAPH ?var) adds the graph column as one more
    slot.

    On a lexical frame each needed variable carries its term from the
    scan that binds it first, so no pattern is re-scanned to decode;
    scans stay ``distinct`` (the frame may hold a triple from several
    captures), and the ids keep term identity.  On a :class:`_Warehouse`
    the scans read only the edge table's id columns and are sets already
    (:func:`query_encoded`); each needed variable decodes through one
    ``terms`` join."""
    wh = isinstance(src, _Warehouse)
    if wh:
        scan_of = _warehouse_scan
        slots = {s: {"term_id": F.col(f"{s}_id")}
                 for s in ("subj", "pred", "obj")}
    else:
        scan_of = _lexical_scan
        slots = _slot_terms(src.columns)
    plan: DataFrame | None = None
    bound: set[str] = set()
    for k, pat in enumerate(run):
        scan, rename = scan_of(src, pat, prefixes)
        rename.update(extra or {})
        slot_of: dict[str, str] = {}
        for slot, v in rename.items():
            if v in slot_of:
                scan = scan.where(slots[slot_of[v]]["term_id"]
                                  == slots[slot]["term_id"])
            else:
                slot_of[v] = slot
        proj = []
        for v, s in slot_of.items():
            if wh or v in bound or v not in needed:
                proj.append(slots[s]["term_id"].alias(f"_tid_{v}"))
            else:
                proj += _bind_cols(slots[s], v)
        if not proj:
            idscan = scan.select(F.lit(1).alias(f"_tid1_{k}")).limit(1)
        elif wh:
            idscan = scan.select(*proj)
        else:
            # distinct over one struct: the plan lists the keys of a wider
            # distinct in hash order, which differs from query to query,
            # where one struct key keeps one aggregation shape
            idscan = scan.select(F.struct(*proj).alias("_row")).distinct() \
                .select("_row.*")
        vars_ = set(slot_of)
        if plan is None:
            plan = idscan
        else:
            keys = [f"_tid_{v}" for v in sorted(bound & vars_)]
            plan = plan.join(idscan, keys) if keys \
                else plan.crossJoin(idscan)
        bound |= vars_
    if wh:
        plan = _decode(src, plan, bound & needed)
    return plan.drop(*[c for c in plan.columns if c.startswith("_tid1_")]), \
        bound


def _compile_group(triples: DataFrame, group: _Group,
                   prefixes: dict[str, str],
                   quads: DataFrame | None = None,
                   extra: dict[str, str] | None = None,
                   needed: set[str] | None = None,
                   out_nullable: set[str] | None = None,
                   outer_bound: set[str] | None = None,
                   out_deferred: list[list[str]] | None = None,
                   seed: tuple[DataFrame, set[str]] | None = None
                   ) -> tuple[DataFrame, set[str]]:
    """Group pattern → (solutions, bound variables).  Every bound ?v has
    its ``_tid_v`` column; ``needed`` names the variables the caller
    reads decoded (all when None), and the group decodes those plus the
    ones its own expressions read.

    ``out_nullable``: mutable set the caller passes to learn which of
    the returned variables may be NULL = UNDEF-unbound (VALUES UNDEF
    cells surviving this group) — nullability must cross subgroup
    boundaries or the caller's joins silently use SQL equality on them.

    ``outer_bound``: variables bound in the ENCLOSING scope.  A filter
    referencing them but not bound here is DEFERRED via ``out_deferred``
    (mutable list of token lists) so the caller can evaluate it where
    those bindings are visible — the substitution semantics EXISTS and
    OPTIONAL need; ONLY those two callers pass it (strict bottom-up
    scoping everywhere else: plain {} / GRAPH / UNION / MINUS /
    subselect compiles leave it None, so their filters read enclosing
    variables as unbound NULLs).

    ``seed``: optional (DataFrame, vars) the group compiles AGAINST as
    its initial solution multiset — the EXISTS substitution path seeds
    the distinct outer bindings a subgroup BIND references so the BIND
    evaluates with them visible."""
    plan: DataFrame | None
    bound: set[str]
    plan, bound = (seed[0], set(seed[1])) if seed is not None \
        else (None, set())
    filters: list[list[str]] = []
    exists: list[tuple[bool, _Group]] = []
    elements = _group_runs(group.elements)
    # the variables this group's elements decode
    dec = (_all_vars(group) if needed is None else set(needed)) \
        | _expr_vars(group.elements)

    # variables that may be NULL = unbound in `plan` (VALUES UNDEF
    # cells): subsequent joins on them use §10.2 compatibility (_join)
    nullable: set[str] = set()

    # the scope visible to subgroups: everything bound here so far plus
    # whatever our own enclosing scope bound
    def _sub_outer() -> set[str]:
        return bound | (outer_bound or set())

    # a subgroup decodes what this group decodes, except the variables
    # the plan already holds (a join on their ids keeps the plan's terms)
    def _sub_needed() -> set[str]:
        return dec - (bound - nullable)

    for idx, el in enumerate(elements):
        scan_null: set[str] = set()  # UNDEF-nullable vars of THIS element
        scan_defer: list[list[str]] = []  # outer-referencing sub filters
        if isinstance(el, tuple) and el and el[0] == "bgp_run":
            scan, vars_ = _compile_run_ids(triples, el[1], prefixes, dec,
                                           extra)
            how = "inner"
        elif isinstance(el, _Pattern):
            scan, vars_ = _compile_pattern(triples, el, prefixes, idx, dec,
                                           extra)
            how = "inner"
        elif el[0] == "filter":
            filters.append(el[1])
            continue
        elif el[0] == "exists":
            exists.append((el[1], el[2]))
            continue
        elif el[0] == "graph":
            # GRAPH term { sub }: scope the subgroup's pattern scans to the
            # named graphs — constant: one equi-filter; variable: bind the
            # graph column alongside each pattern's variables
            if quads is None:
                raise SparqlError(
                    "GRAPH requires a quads input (a 'graph' column)")
            term, sub = el[1], el[2]
            # a nested GRAPH RE-SCOPES the active graph (SPARQL §13.3):
            # an enclosing GRAPH ?var is never bound by this subgroup, so
            # its binding is dropped from the inner scope here; when the
            # enclosing subgroup ends up not binding its var at all, the
            # var-branch below crosses with the named-graph list
            inner_extra = {k: v for k, v in (extra or {}).items()
                           if k != "graph"}
            # strict bottom-up scoping (§18.2): filters inside the GRAPH
            # group never see enclosing bindings
            if term.startswith("?"):
                gv = term[1:]
                frame = quads.where(F.col("graph").isNotNull())
                scan, vars_ = _compile_group(frame, sub, prefixes, quads,
                                             {**inner_extra, "graph": gv},
                                             needed=_sub_needed(),
                                             out_nullable=scan_null)
                if gv not in vars_:
                    # subgroup held only nested GRAPH scopes: ?gv still
                    # ranges over every named graph (a genuine cross —
                    # the name list is small by construction)
                    names = frame.select(*_bind_cols(
                        _slot_terms(frame.columns)["graph"], gv)).distinct()
                    scan = scan.crossJoin(names)
                    vars_ = vars_ | {gv}
            else:
                frame = quads.where(
                    F.col("graph") == _expand(term, prefixes))
                scan, vars_ = _compile_group(frame, sub, prefixes, quads,
                                             inner_extra,
                                             needed=_sub_needed(),
                                             out_nullable=scan_null)
            how = "inner"
        elif el[0] == "bind":
            # BIND applies to the solutions built so far, in sequence
            if plan is None:
                raise SparqlError("BIND cannot be the first group element")
            if el[2] in bound:
                raise SparqlError(f"BIND reassigns bound variable ?{el[2]}")
            plan = _bind(plan, el[1], el[2], prefixes)
            bound = bound | {el[2]}
            continue
        elif el[0] == "minus":
            # SPARQL MINUS: drop solutions compatible with the right side.
            # Exact under SQL semantics when the shared variables are bound;
            # with NO shared variables the spec keeps everything (domains
            # are disjoint, every pair is trivially compatible but removal
            # requires a shared binding) → no-op.
            if plan is None:
                raise SparqlError("MINUS cannot be the first group element")
            # only the shared variables' ids matter on the right (they
            # are the anti-join keys), so the subgroup decodes none of
            # them.  NO outer_bound here: per §8.3 the MINUS right side
            # does NOT see left bindings, so a filter on an outer var
            # evaluates with it unbound (NULL) — exactly the famous MINUS
            # vs NOT-EXISTS divergence
            r_null: set[str] = set()
            right, rv = _compile_group(triples, el[1], prefixes, quads,
                                       extra, needed=set(),
                                       out_nullable=r_null)
            keys = [f"_tid_{k}" for k in sorted(bound & rv)]
            if any(k in nullable or k in r_null for k in bound & rv):
                # UNDEF-nullable keys on the left: exact §8.3 MINUS —
                # remove rows with a COMPATIBLE right row (NULL on either
                # side matches) whose domains overlap (≥1 var bound on
                # both sides).  Theta join over the distinct key tuples:
                # only UNDEF-carrying queries (small VALUES-driven key
                # sets) take this path, equi-anti-join otherwise.
                right2 = right.select(
                    [F.col(k).alias(f"_mn{k}") for k in keys]).distinct()
                compat, overlap = None, None
                for k in keys:
                    a, b = F.col(k), F.col(f"_mn{k}")
                    c = a.isNull() | b.isNull() | (a == b)
                    compat = c if compat is None else compat & c
                    o = a.isNotNull() & b.isNotNull()
                    overlap = o if overlap is None else overlap | o
                plan = plan.join(right2, compat & overlap, "left_anti")
            elif keys:
                plan = plan.join(right.select(*keys).distinct(),
                                 keys, "left_anti")
            continue
        elif el[0] == "values":
            scan = _values_frame(triples.sparkSession, el[1], el[2],
                                 prefixes)
            scan_null = {v for j, v in enumerate(el[1])
                         if any(row[j] is None for row in el[2])}
            vars_, how = set(el[1]), "inner"
        elif el[0] == "subselect":
            scan, out_cols = _compile_select(triples, el[1], prefixes,
                                             quads, out_nullable=scan_null,
                                             terms=True)
            vars_, how = set(out_cols), "inner"
        elif el[0] in ("optional", "group", "union"):
            if el[0] == "union":
                # strict §18.2 bottom-up scoping: a UNION branch never
                # sees enclosing-group bindings — a filter referencing
                # one evaluates it as unbound (NULL → error → false),
                # exactly like reference engines (no outer_bound here)
                left, lv = _compile_group(triples, el[1], prefixes, quads,
                                          extra, needed=_sub_needed(),
                                          out_nullable=scan_null)
                right, rv = _compile_group(triples, el[2], prefixes, quads,
                                           extra, needed=_sub_needed(),
                                           out_nullable=scan_null)
                scan = left.unionByName(right, allowMissingColumns=True)
                # a variable bound in only ONE branch is NULL = unbound on
                # the other branch's rows: thread it as nullable so later
                # joins on it use §10.2 compatibility, not SQL equality
                scan_null |= (lv - rv) | (rv - lv)
                vars_, how = lv | rv, "inner"
            elif el[0] == "optional":
                # OPTIONAL filters may reference left-side vars (the
                # LeftJoin expression, §18.2.2.7) — defer them into the
                # join condition
                scan, vars_ = _compile_group(
                    triples, el[1], prefixes, quads, extra,
                    needed=_sub_needed(), out_nullable=scan_null,
                    outer_bound=_sub_outer(), out_deferred=scan_defer)
                how = "left"
            else:
                # a plain nested {} gets strict bottom-up scoping: no
                # outer_bound, so filters over enclosing vars evaluate
                # them as unbound (NULL)
                scan, vars_ = _compile_group(
                    triples, el[1], prefixes, quads, extra,
                    needed=_sub_needed(), out_nullable=scan_null)
                how = "inner"
        else:  # pragma: no cover
            raise SparqlError(f"unknown group element {el!r}")
        if plan is None:
            if how == "left":
                raise SparqlError("OPTIONAL cannot be the first pattern")
            plan, bound = scan, vars_
            nullable |= scan_null
        else:
            prev_bound = set(bound)
            plan, bound = _join(plan, bound, scan, vars_, how, nullable,
                                scan_null,
                                deferred=scan_defer if how == "left"
                                else None)
            if how == "left":
                # §8.3: variables an OPTIONAL introduces are NULL =
                # unbound on non-matching rows — later elements sharing
                # them join via §10.2 compatibility exactly like VALUES
                # UNDEF cells (the r4 machinery; shared keys keep their
                # left-side binding and stay non-null)
                nullable |= vars_ - prev_bound
    if plan is None:
        raise SparqlError("empty group pattern")
    # SPARQL filter scope: this group, after all its elements joined.
    # Filters referencing variables bound only in the ENCLOSING scope
    # defer to the caller ONLY where the spec substitutes outer bindings
    # (OPTIONAL → left-join ON condition §18.2.2.7, EXISTS → semi/anti
    # condition §18.6); every other position — plain nested {}, GRAPH,
    # UNION branches, MINUS right side, subselects — never sets
    # outer_bound, so such filters evaluate the variable as unbound
    # (NULL → expression error → false), the strict bottom-up scoping
    # reference engines implement.
    for ftoks in filters:
        fvars = {t[1:] for t in ftoks if t.startswith("?")}
        missing = fvars - bound
        if missing and outer_bound and missing & outer_bound:
            if out_deferred is None:
                raise SparqlError(
                    "FILTER references enclosing-group variables ("
                    + ", ".join("?" + v
                                for v in sorted(missing & outer_bound))
                    + ") where outer bindings cannot be seen (e.g. a "
                    "UNION branch)")
            out_deferred.append(ftoks)
            continue
        plan = plan.where(_filter_sql(ftoks, set(plan.columns)))
    # EXISTS/NOT EXISTS: correlated on the shared variables → semi/anti join
    # (the standard decorrelation; exact for the supported fragment, where
    # the inner group references the outer row only through shared vars)
    for positive, sub in exists:
        e_null: set[str] = set()
        e_def: list[list[str]] = []
        # substitution semantics for BINDs over outer variables: a BIND
        # computes columns and cannot defer like a filter — seed the
        # subgroup with the DISTINCT outer bindings it references, so the
        # expression evaluates against real values (spec: substitute the
        # outer solution into the EXISTS pattern).  Seeded vars join the
        # semi/anti keys through the normal shared-variable machinery.
        e_seed_vars = _outer_bind_vars(sub, bound)
        e_seed = ((plan.select(*[f"{p}{v}" for v in sorted(e_seed_vars)
                                 for p in _TERM_COLS]).distinct(),
                   e_seed_vars) if e_seed_vars else None)
        sub_plan, sub_vars = _compile_group(triples, sub, prefixes, quads,
                                            extra, needed=set(),
                                            out_nullable=e_null,
                                            outer_bound=bound
                                            | (outer_bound or set()),
                                            out_deferred=e_def,
                                            seed=e_seed)
        keys = sorted(bound & sub_vars)
        how = "left_semi" if positive else "left_anti"
        null_keys = {k for k in keys if k in nullable or k in e_null}
        if e_def or null_keys:
            # substitution semantics: an unbound outer var constrains
            # nothing, so compatibility (NULL on either side matches)
            # replaces equality on UNDEF-nullable keys; and the
            # subgroup's filters on OUTER variables correlate the
            # semi/anti join.  The subgroup side is fully renamed
            # (_ex_*) and the filter tokens rewritten to the renamed
            # columns for subgroup-bound vars — outer vars resolve
            # against the plan side.
            fvars = {t[1:] for ftoks in e_def for t in ftoks
                     if t.startswith("?")} & sub_vars
            ren = {v: f"_ex_{v}" for v in set(keys) | fvars}
            sub2 = _rename_vars(sub_plan.select(
                *[f"_tid_{k}" for k in keys],
                *[c for v in fvars for c in _decoded_cols(v)]),
                ren).distinct() if ren \
                else sub_plan.limit(1).select(F.lit(1).alias("_e"))
            cond = None
            for k in keys:
                a, b = F.col(f"_tid_{k}"), F.col(f"_tid_{ren[k]}")
                c = a == b
                if k in null_keys:
                    c = a.isNull() | b.isNull() | c
                cond = c if cond is None else cond & c
            cols_all = set(plan.columns) | set(sub2.columns)
            for ftoks in e_def:
                rtoks = ["?" + ren[t[1:]]
                         if t.startswith("?") and t[1:] in fvars else t
                         for t in ftoks]
                fc = F.expr(_filter_sql(rtoks, cols_all))
                cond = fc if cond is None else cond & fc
            plan = plan.join(sub2,
                             cond if cond is not None else F.lit(True),
                             how)
        elif keys:
            tids = [f"_tid_{k}" for k in keys]
            plan = plan.join(sub_plan.select(*tids).distinct(), tids, how)
        else:
            # uncorrelated: gate on whether the inner group has any row
            marker = sub_plan.limit(1).select(F.lit(1).alias("_e"))
            plan = plan.join(marker, F.lit(True), how)
    if out_nullable is not None:
        out_nullable |= nullable
    return plan, bound


def _bind(plan: DataFrame, toks: list[str], alias: str,
          prefixes: dict[str, str]) -> DataFrame:
    """BIND(expr AS ?alias): a bare variable copies its term; TRIPLE and
    the STRLANG/STRDT/IRI constructors bind their typed term; any other
    expression binds a simple literal.  An unbound result (an unbound
    argument, an expression error) is null in every column, so isIRI of
    it is not true."""
    cols = set(plan.columns)
    if len(toks) == 1 and toks[0].startswith("?"):
        v = toks[0][1:]
        return plan.withColumns({
            f"{p}{alias}": F.col(f"{p}{v}") if v in cols
            else F.lit(None).cast("long" if p == "_tid_" else "string")
            for p in _TERM_COLS})
    if toks and toks[0].upper() == "TRIPLE":
        t_args, t_end = _parse_call_args(toks, 1)
        if t_end != len(toks):
            raise SparqlError(
                "TRIPLE(...) nested inside a larger BIND expression is "
                "not supported")
        return plan.withColumn(
            alias, _triple_ctor_col(t_args, prefixes, plan)).withColumns(
            _computed_term(alias, "triple"))
    value_toks, kind, lang, dt = (_term_constructor_bind(toks, prefixes)
                                  or (toks, "literal", None, None))
    return plan.withColumn(
        alias, F.expr(_filter_sql(value_toks, cols))).withColumns(
        _computed_term(alias, kind, dt, lang))


# SELECT items: plain var or (AGG(?v) AS ?alias)
_AGG_FUNCS = {
    "COUNT": F.count, "SUM": F.sum, "AVG": F.avg, "MIN": F.min,
    "MAX": F.max,
    # SAMPLE may return any value — min is the deterministic choice
    "SAMPLE": F.min,
    # GROUP_CONCAT with the spec's default " " separator; values sorted so
    # the result is deterministic (SPARQL leaves the order undefined)
    "GROUP_CONCAT": lambda c: F.concat_ws(" ", F.array_sort(F.collect_list(c))),
}


@dataclass
class _SelectItem:
    var: str | None = None          # plain projection
    agg: str | None = None          # aggregate function name
    agg_arg: "str | list | None" = None  # arg tokens ('*' for COUNT(*))
    distinct: bool = False
    alias: str | None = None
    expr: list | None = None        # (expr AS ?alias) projection tokens
    sep: str | None = None          # GROUP_CONCAT SEPARATOR (default " ")

    @property
    def out_name(self) -> str:
        return self.alias or self.var


def _parse_select_items(toks: list[str]) -> tuple[bool, list[_SelectItem] | None]:
    """tokens between SELECT and WHERE → (distinct, items|None for '*')."""
    i, distinct = 0, False
    if i < len(toks) and toks[i].upper() in ("DISTINCT", "REDUCED"):
        # REDUCED permits (but does not require) duplicate elimination —
        # eliminating is the deterministic choice
        distinct, i = True, i + 1
    if toks[i:] == ["*"]:
        return distinct, None
    items: list[_SelectItem] = []
    while i < len(toks):
        t = toks[i]
        if t.startswith("?"):
            items.append(_SelectItem(var=t[1:]))
            i += 1
        elif t == "(":
            # ( AGG ( [DISTINCT] expr|* ) AS ?alias ) — expr is any
            # balanced token expression (SUM(?price * ?qty) etc.) —
            # or a plain projected expression ( expr AS ?alias )
            try:
                agg = toks[i + 1].upper()
                # strict form only when "AS" directly follows the call —
                # (COUNT(?o) * 2 AS ?c) is a plain expression item whose
                # aggregates rewrite later
                strict = agg in _AGG_FUNCS and toks[i + 2 : i + 3] == ["("]
                if strict:
                    _, j_peek = _parse_call_args(toks, i + 2)
                    strict = bool(toks[j_peek : j_peek + 1]) and \
                        toks[j_peek].upper() == "AS"
                if not strict:
                    body, j = _parse_call_args(toks, i)
                    etoks = body[0] if len(body) == 1 else None
                    if (not etoks or len(etoks) < 3
                            or etoks[-2].upper() != "AS"
                            or not etoks[-1].startswith("?")):
                        raise SparqlError(
                            f"unsupported SELECT item at {toks[i+1]!r} "
                            "(expected (AGG(expr) AS ?a) or (expr AS ?a))")
                    items.append(_SelectItem(expr=etoks[:-2],
                                             alias=etoks[-1][1:]))
                    i = j
                    continue
                args, j = _parse_call_args(toks, i + 2)
                if len(args) != 1 or not args[0]:
                    raise SparqlError("aggregates take one argument")
                atoks = args[0]
                adist = False
                if atoks[0].upper() == "DISTINCT":
                    adist, atoks = True, atoks[1:]
                sep = None
                if (agg == "GROUP_CONCAT" and len(atoks) >= 4
                        and atoks[-4] == ";"
                        and atoks[-3].upper() == "SEPARATOR"
                        and atoks[-2] == "="
                        and atoks[-1].startswith('"')):
                    sep = _decode_echars(atoks[-1][1:-1])
                    atoks = atoks[:-4]
                if not atoks:
                    raise SparqlError("aggregates take one argument")
                if not atoks or toks[j : j + 1] == [] \
                        or toks[j].upper() != "AS":
                    raise SparqlError(
                        "aggregate must be (AGG(expr) AS ?alias)")
                alias = toks[j + 1]
                if not alias.startswith("?") or toks[j + 2] != ")":
                    raise SparqlError(
                        "aggregate must be (AGG(expr) AS ?alias)")
            except IndexError:
                raise SparqlError("malformed aggregate in SELECT") from None
            items.append(_SelectItem(
                agg=agg, agg_arg="*" if atoks == ["*"] else atoks,
                distinct=adist, alias=alias[1:], sep=sep))
            i = j + 3
        else:
            raise SparqlError(f"unexpected token in SELECT: {t!r}")
    return distinct, items


def _agg_col(it: _SelectItem):
    if it.agg == "COUNT" and it.agg_arg == "*":
        c = F.count(F.lit(1))
    else:
        atoks = (it.agg_arg if isinstance(it.agg_arg, list)
                 else [it.agg_arg])
        if any(t in ("+", "-", "*", "/") for t in atoks):
            # arithmetic aggregate arg: variable bindings are lexical
            # strings — treat them as numbers (SPARQL numeric context;
            # mix string functions with arithmetic via BIND instead)
            atoks = [f"CAST(`{t[1:]}` AS DOUBLE)" if t.startswith("?")
                     else t for t in atoks]
        col = F.expr(_filter_sql(atoks))
        if it.agg == "COUNT":
            c = F.countDistinct(col) if it.distinct else F.count(col)
        elif it.agg == "GROUP_CONCAT":
            arr = F.collect_list(col)
            if it.distinct:
                arr = F.array_distinct(arr)
            # values sorted so the result is deterministic (the spec
            # leaves concatenation order undefined)
            c = F.concat_ws(it.sep if it.sep is not None else " ",
                            F.array_sort(arr))
        else:
            if it.agg in ("SUM", "AVG"):
                # lexical forms are strings; try_cast keeps per-value
                # error semantics (non-numeric → ignored as NULL) where
                # an ANSI cast would abort the whole query
                col = col.try_cast("double")
            if it.distinct and it.agg == "SUM":
                c = F.sum_distinct(col)
            elif it.distinct and it.agg == "AVG":
                c = F.try_divide(F.sum_distinct(col),
                                 F.count_distinct(col))
            else:
                # MIN/MAX/SAMPLE: DISTINCT cannot change the result
                c = _AGG_FUNCS[it.agg](col)
    return c.alias(it.alias)


def _rewrite_having(toks: list[str], items: list[_SelectItem]
                    ) -> tuple[list[str], list[_SelectItem]]:
    """HAVING tokens with AGG(?v) calls → alias ?var tokens.  A call
    matching a SELECT aggregate reuses its alias; one that does NOT
    appear in SELECT gets a synthesized HIDDEN aggregate item (second
    return value) — the caller computes it alongside the projected
    aggregates and the final projection drops it."""
    out: list[str] = []
    hidden: list[_SelectItem] = []
    i = 0
    while i < len(toks):
        up = toks[i].upper()
        if up in _AGG_FUNCS and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += {"(": 1, ")": -1}.get(toks[j], 0)
                j += 1
            inner = toks[i + 2 : j - 1]
            adist = bool(inner) and inner[0].upper() == "DISTINCT"
            atoks = inner[1:] if adist else inner
            sep = None
            if (up == "GROUP_CONCAT" and len(atoks) >= 4
                    and atoks[-4] == ";"
                    and atoks[-3].upper() == "SEPARATOR"
                    and atoks[-2] == "=" and atoks[-1].startswith('"')):
                sep = _decode_echars(atoks[-1][1:-1])
                atoks = atoks[:-4]
            arg = "*" if atoks == ["*"] else atoks
            match = next(
                (it for it in items + hidden
                 if it.agg == up and it.agg_arg == arg
                 and it.distinct == adist and it.sep == sep),
                None)
            if match is None:
                match = _SelectItem(agg=up, agg_arg=arg, distinct=adist,
                                    alias=f"_hv{len(hidden)}", sep=sep)
                hidden.append(match)
            out.append("?" + match.alias)
            i = j
        else:
            out.append(toks[i])
            i += 1
    return out, hidden


def _compile_select(triples: DataFrame, toks: list[str],
                    prefixes: dict[str, str],
                    quads: DataFrame | None = None,
                    out_nullable: set[str] | None = None,
                    terms: bool = False
                    ) -> tuple[DataFrame, list[str]]:
    """SELECT token list (``SELECT`` through trailing modifiers) →
    (projected plan, output column names).  Shared by ``query()`` and
    ``{ SELECT ... }`` subqueries, whose plan also carries each output
    variable's term columns (``terms``).  ``out_nullable``: mutable set
    the subselect caller passes to learn which PROJECTED columns may be
    NULL = unbound (UNDEF cells / OPTIONAL misses surviving the
    projection) — without it the enclosing group would silently join
    them with SQL equality."""
    if not toks or toks[0].upper() != "SELECT":
        raise SparqlError("expected SELECT")
    # split SELECT items / WHERE group / tail modifiers
    try:
        w = next(i for i, t in enumerate(toks) if t.upper() == "WHERE")
    except StopIteration:
        raise SparqlError("missing WHERE") from None
    if w + 1 >= len(toks) or toks[w + 1] != "{":
        raise SparqlError("WHERE must be followed by a group")
    distinct, items = _parse_select_items(toks[1:w])
    group, i = _parse_group(toks, w + 2)
    tail = toks[i:]

    # trailing VALUES clause (§10.2.2): joins the WHERE solutions — the
    # same algebra as a VALUES block closing the group, so append it as
    # the group's final element (UNDEF compatibility comes along free)
    for j0, t0 in enumerate(tail):
        if t0.upper() == "VALUES":
            el, j1 = _parse_values(tail, j0 + 1)
            if tail[j1:]:
                raise SparqlError(
                    "the VALUES clause must end the query")
            group.elements.append(el)
            tail = tail[:j0]
            break

    # projection surface: only these variables ever need lexical values —
    # id-joined BGP runs skip decoding everything else (SELECT * → all)
    needed = (None if items is None
              else _all_vars(toks[1:w]) | _all_vars(tail))
    g_null: set[str] = set()
    plan, bound = _compile_group(triples, group, prefixes, quads,
                                 needed=needed, out_nullable=g_null)
    plan, out_cols = _select_tail(plan, bound, distinct, items, tail, terms)
    if out_nullable is not None:
        # nullability survives projection for plain (non-aggregated,
        # non-expression) variables only: aggregates and computed
        # expressions bind fresh values (NULL there = expression error,
        # which also reads as unbound — keeping them out is the
        # conservative choice that never turns an equi-join into a
        # wrong-answer)
        plain = (set(out_cols) if items is None else
                 {it.out_name for it in items
                  if it.agg is None and it.expr is None})
        out_nullable |= g_null & plain
    return plan, out_cols


def _select_tail(plan: DataFrame, bound: set[str], distinct: bool,
                 items: list[_SelectItem] | None, tail: list[str],
                 terms: bool = False) -> tuple[DataFrame, list[str]]:
    """Solution modifiers of :func:`_compile_select`: GROUP BY (plain /
    (expr AS ?k) / bare builtin-call keys), HAVING and ORDER BY hidden
    aggregates, (expr-over-aggregate AS ?v) projections, GROUP BY-only ≡
    distinct keys, DISTINCT, ORDER/LIMIT/OFFSET.  ``bound`` is the set of
    variables the incoming plan binds.  With ``terms`` each output
    variable keeps its term columns, and a computed one (an aggregate,
    an expression) binds a simple literal."""

    def carried(vs: list[str]) -> list[str]:
        return [f"{p}{v}" for v in vs for p in _TERM_COLS
                if terms and p and f"{p}{v}" in plan.columns]

    # tail: GROUP BY ?v... | HAVING(expr) | ORDER BY [ASC|DESC] (?v)
    #     | LIMIT n | OFFSET n
    group_by: list[str] = []
    group_exprs: list[tuple[str, list[str]]] = []
    having: list[str] | None = None
    order: list[tuple[str, bool]] = []  # (var, desc)
    limit: int | None = None
    offset: int | None = None
    j = 0
    while j < len(tail):
        up = tail[j].upper()
        if up == "GROUP" and j + 1 < len(tail) and tail[j + 1].upper() == "BY":
            j += 2
            while j < len(tail):
                if tail[j].startswith("?"):
                    group_by.append(tail[j][1:])
                    j += 1
                elif tail[j] == "(":
                    # GROUP BY (expr [AS ?alias]): computed key — without
                    # an alias it groups but is not projectable
                    body, j = _parse_call_args(tail, j)
                    etoks = body[0] if len(body) == 1 else None
                    if not etoks:
                        raise SparqlError("malformed GROUP BY expression")
                    if (len(etoks) >= 3 and etoks[-2].upper() == "AS"
                            and etoks[-1].startswith("?")):
                        alias, expr_toks = etoks[-1][1:], etoks[:-2]
                    else:
                        alias, expr_toks = f"_gk{len(group_exprs)}", etoks
                    group_exprs.append((alias, expr_toks))
                    group_by.append(alias)
                elif (j + 1 < len(tail) and tail[j + 1] == "("
                      and tail[j].upper() != "HAVING"
                      and re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", tail[j])):
                    # GROUP BY STR(?x) — bare builtin-call key (the
                    # unparenthesized form; groups but is not projectable,
                    # same as an alias-less (expr) key)
                    depth, k = 1, j + 2
                    while k < len(tail) and depth:
                        depth += {"(": 1, ")": -1}.get(tail[k], 0)
                        k += 1
                    if depth:
                        raise SparqlError(
                            "unbalanced parens in GROUP BY expression")
                    alias = f"_gk{len(group_exprs)}"
                    group_exprs.append((alias, tail[j:k]))
                    group_by.append(alias)
                    j = k
                else:
                    break
        elif up == "HAVING":
            if j + 1 >= len(tail) or tail[j + 1] != "(":
                raise SparqlError("HAVING requires parenthesized expression")
            depth, k = 1, j + 2
            while k < len(tail) and depth:
                depth += {"(": 1, ")": -1}.get(tail[k], 0)
                k += 1
            if depth:
                raise SparqlError("unbalanced parens in HAVING")
            having = tail[j + 2 : k - 1]
            j = k
        elif up == "ORDER" and j + 1 < len(tail) and tail[j + 1].upper() == "BY":
            j += 2
            while j < len(tail):
                desc = False
                if tail[j].upper() in ("ASC", "DESC"):
                    desc = tail[j].upper() == "DESC"
                    j += 1
                if tail[j : j + 1] == ["("]:
                    # (expr) sort key — any balanced expression over the
                    # projected variables
                    body, j = _parse_call_args(tail, j)
                    if len(body) != 1 or not body[0]:
                        raise SparqlError("malformed ORDER BY expression")
                    order.append((body[0], desc))
                    continue
                if j >= len(tail) or not tail[j].startswith("?"):
                    break
                order.append(([tail[j]], desc))
                j += 1
        elif up == "LIMIT":
            limit = int(tail[j + 1])
            j += 2
        elif up == "OFFSET":
            offset = int(tail[j + 1])
            j += 2
        else:
            raise SparqlError(f"unexpected token after WHERE: {tail[j]!r}")

    # an explicit GROUP BY makes this an aggregate query even when the
    # projection holds only group keys (HAVING / ORDER BY may still
    # reference aggregates via hidden columns), and an (expr AS ?v)
    # projection CONTAINING an aggregate call makes it one too
    def _toks_have_agg(ts: list[str]) -> bool:
        return any(t.upper() in _AGG_FUNCS and ts[i + 1 : i + 2] == ["("]
                   for i, t in enumerate(ts))

    has_agg = items is not None and (
        any(it.agg for it in items) or bool(group_by)
        or any(it.expr is not None and _toks_have_agg(it.expr)
               for it in items))
    if has_agg:
        keys = group_by or [it.var for it in items if it.var]
        expr_keys = {a for a, _ in group_exprs}
        missing = [k for k in keys if k not in bound and k not in expr_keys]
        if missing:
            raise SparqlError(f"unbound GROUP BY variables: {missing}")
        for alias, etoks in group_exprs:
            plan = plan.withColumn(
                alias, F.expr(_filter_sql(etoks, set(plan.columns))))
        aggs = [_agg_col(it) for it in items if it.agg]
        hidden_all: list[_SelectItem] = []
        # (expr AS ?v) over aggregates: the aggregate calls inside the
        # expression rewrite to (hidden) aggregate aliases; the
        # expression itself computes post-aggregation
        expr_rewritten: dict[str, list[str]] = {}
        for it in items:
            if it.expr is not None:
                rtoks, more = _rewrite_having(it.expr, items + hidden_all)
                hidden_all += more
                expr_rewritten[it.alias] = rtoks
        if having is not None:
            htoks, hidden = _rewrite_having(having, items + hidden_all)
            hidden_all += hidden
        if order:
            # ORDER BY DESC(COUNT(?x)) etc.: aggregate calls in sort
            # keys rewrite to (possibly hidden) aggregate aliases too
            new_order = []
            for etoks, d in order:
                rtoks, more = _rewrite_having(etoks, items + hidden_all)
                hidden_all += more
                new_order.append((rtoks, d))
            order = new_order
        aggs += [_agg_col(it) for it in hidden_all]
        if aggs:
            plan = (plan.groupBy(*keys, *carried(keys)).agg(*aggs)
                    if keys else plan.agg(*aggs))
        else:
            # GROUP BY with no aggregate anywhere ≡ distinct group keys
            plan = plan.select(*keys, *carried(keys)).distinct()
        if having is not None:
            plan = plan.where(_filter_sql(htoks))
        for alias, rtoks in expr_rewritten.items():
            plan = plan.withColumn(
                alias, F.expr(_filter_sql(rtoks, set(plan.columns))))
        out_cols = [it.out_name for it in items]
        order_vars = {t[1:] for etoks, _ in order for t in etoks
                      if t.startswith("?")}
        drop_after_order = [it.alias for it in hidden_all
                            if it.alias in order_vars]
        plan = plan.select(*out_cols, *carried(out_cols), *drop_after_order)
    else:
        drop_after_order = []
        if having is not None:
            raise SparqlError("HAVING requires aggregates in SELECT")
        if items is None:
            out_cols = sorted(bound)
        else:
            for it in items:
                if it.expr is not None:
                    plan = plan.withColumn(
                        it.alias,
                        F.expr(_filter_sql(it.expr, set(plan.columns))))
            exprs = {it.alias for it in items if it.expr is not None}
            out_cols = [it.out_name for it in items]
            missing = [v for v in out_cols
                       if v not in bound and v not in exprs]
            if missing:
                raise SparqlError(f"unbound variables in SELECT: {missing}")
        plan = plan.select(*out_cols, *carried(out_cols))
    if terms:
        plan = plan.withColumns({
            c: e for v in out_cols if f"_tid_{v}" not in plan.columns
            for c, e in _computed_term(v).items()})

    if distinct:
        # NB: with SELECT DISTINCT + ORDER BY on a hidden aggregate the
        # distinct runs over the hidden column too — two groups equal in
        # every projected column but differing in the sort aggregate
        # both survive (the sort key is genuinely ambiguous there; the
        # spec leaves that interaction undefined)
        plan = plan.distinct()
    if order:
        avail = set(out_cols) | set(drop_after_order)
        for etoks, _ in order:
            missing = [t[1:] for t in etoks
                       if t.startswith("?") and t[1:] not in avail]
            if missing:
                raise SparqlError(
                    f"ORDER BY on unprojected variables: {missing}")
        keys = []
        for etoks, d in order:
            col = (F.col(etoks[0][1:]) if len(etoks) == 1
                   and etoks[0].startswith("?")
                   else F.expr(_filter_sql(etoks, avail)))
            keys.append(col.desc() if d else col.asc())
        plan = plan.orderBy(*keys)
        if drop_after_order:
            plan = plan.drop(*drop_after_order)
    if offset is not None:
        plan = plan.offset(offset)
    if limit is not None:
        plan = plan.limit(limit)
    return plan, out_cols


_PNAME_DECL = re.compile(r"^(?:[A-Za-z_][A-Za-z0-9_\-]*)?:$")


def _prep(sparql: str) -> tuple[list[str], dict[str, str]]:
    """Tokenize, then lift PREFIX declarations out of the TOKEN stream —
    regexing the raw text would rewrite PREFIX-shaped content inside
    quoted string literals (which are atomic tokens to the scanner)."""
    toks = _tokenize(sparql)
    prefixes: dict[str, str] = {}
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (toks[i].upper() == "PREFIX" and i + 2 < len(toks)
                and _PNAME_DECL.match(toks[i + 1])
                and toks[i + 2].startswith("<")):
            prefixes[toks[i + 1][:-1]] = toks[i + 2][1:-1]
            i += 3
            continue
        out.append(toks[i])
        i += 1
    return out, prefixes


@_public
def query(triples: DataFrame, sparql: str) -> DataFrame:
    """Run a SELECT or ASK query against lexical triples
    (subj, pred, obj_lexical, obj_kind, ...).  SELECT → one column per
    variable; ASK → a single-row DataFrame with one boolean ``ask`` column
    (false via the empty-input aggregate when no solution exists).

    If the frame carries a ``graph`` column (quads, e.g. from
    ``sinks.from_nquads``), SPARQL dataset semantics apply: top-level
    patterns match the default graph (``graph IS NULL``) and ``GRAPH``
    patterns match the named graphs."""
    if "graph" in triples.columns:
        return _query(triples.where(F.col("graph").isNull()), triples,
                      sparql)
    return _query(triples, None, sparql)


def _query(triples: DataFrame | _Warehouse, quads: DataFrame | None,
           sparql: str) -> DataFrame:
    toks, prefixes = _prep(sparql)
    if toks and toks[0].upper() == "ASK":
        if len(toks) < 2:
            raise SparqlError("ASK requires a group")
        i = 1
        if toks[1].upper() == "WHERE":
            i = 2
        if i >= len(toks) or toks[i] != "{":
            raise SparqlError("ASK requires a group")
        group, j = _parse_group(toks, i + 1)
        if toks[j:]:
            raise SparqlError(f"unexpected token after ASK group: {toks[j]!r}")
        plan, _ = _compile_group(triples, group, prefixes, quads,
                                 needed=set())
        return plan.limit(1).agg(
            (F.count(F.lit(1)) > F.lit(0)).alias("ask"))
    if not toks or toks[0].upper() != "SELECT":
        raise SparqlError("only SELECT / ASK queries are supported here "
                          "(use construct() for CONSTRUCT)")
    plan, _ = _compile_select(triples, toks, prefixes, quads)
    return plan


@_public
def ask(triples: DataFrame, sparql: str) -> bool:
    """ASK convenience wrapper: compile + execute, return the boolean."""
    return bool(query(triples, sparql).head()["ask"])


@_public
def describe(triples: DataFrame, sparql: str) -> DataFrame:
    """DESCRIBE query form → the subgraph about the named resources
    (subj, pred, obj_lexical, obj_kind).

    Per SPARQL 1.1 §16.4 the result shape is implementation-defined; this
    engine returns the Concise Bounded Description: every triple whose
    SUBJECT is a described resource, plus — recursively — the triples of
    blank-node objects reached from it (the de-facto standard CBD; IRIs
    are never chased, so the closure is bounded by blank-node nesting
    depth).  Forms: ``DESCRIBE <iri> [<iri> ...]`` and ``DESCRIBE ?v
    WHERE { ... }`` (resources = the distinct bindings of each described
    variable)."""
    if "graph" in triples.columns:
        quads: DataFrame | None = triples
        triples = triples.where(F.col("graph").isNull())
    else:
        quads = None
    toks, prefixes = _prep(sparql)
    if not toks or toks[0].upper() != "DESCRIBE":
        raise SparqlError("expected DESCRIBE")
    i = 1
    terms: list[str] = []
    while i < len(toks) and (toks[i].startswith("?") or _is_term(toks[i])) \
            and toks[i].upper() != "WHERE":
        terms.append(toks[i])
        i += 1
    if not terms:
        raise SparqlError("DESCRIBE requires at least one resource or "
                          "variable")
    vars_ = [t[1:] for t in terms if t.startswith("?")]
    iris = [_expand(t, prefixes) for t in terms if not t.startswith("?")]

    resources: DataFrame | None = None
    if iris:
        resources = triples.sparkSession.createDataFrame(
            [(x,) for x in iris], "`_res` string")
    if toks[i:]:
        if toks[i].upper() != "WHERE" or i + 1 >= len(toks) \
                or toks[i + 1] != "{":
            raise SparqlError("DESCRIBE tail must be WHERE { ... }")
        group, j = _parse_group(toks, i + 2)
        if toks[j:]:
            raise SparqlError(
                f"unexpected token after DESCRIBE group: {toks[j]!r}")
        plan, bound = _compile_group(triples, group, prefixes, quads)
        missing = [v for v in vars_ if v not in bound]
        if missing:
            raise SparqlError(f"unbound DESCRIBE variables: {missing}")
        for v in vars_:
            res = plan.select(F.col(v).alias("_res")).distinct()
            resources = res if resources is None else resources.union(res)
    elif vars_:
        raise SparqlError("DESCRIBE ?var requires a WHERE group")

    # CBD fixpoint: chase BLANK objects only (depth = document nesting,
    # small by construction; localCheckpoint truncates lineage per round
    # like the connected-components loop)
    seen = resources.select("_res").distinct().localCheckpoint(eager=True)
    frontier = seen
    while True:
        blanks = (
            triples.join(frontier, triples["subj"] == F.col("_res"),
                         "left_semi")
            .where(F.col("obj_kind") == "blank")
            .select(F.col("obj_lexical").alias("_res")).distinct()
            .join(seen, "_res", "left_anti")
            .localCheckpoint(eager=True)
        )
        if not blanks.take(1):
            break
        seen = seen.union(blanks).localCheckpoint(eager=True)
        frontier = blanks

    return (
        triples.join(seen, triples["subj"] == F.col("_res"), "left_semi")
        .select("subj", "pred", "obj_lexical", "obj_kind")
        .distinct()
    )


@_public
def construct(triples: DataFrame, sparql: str) -> DataFrame:
    """CONSTRUCT { template } WHERE { ... } → a lexical-triples DataFrame
    (subj, pred, obj_lexical, obj_kind, obj_datatype, obj_lang).

    A template variable instantiates as the RDF term its solution binds
    — kind, datatype and lang included, wherever in the WHERE group it
    is bound (a pattern, a path, VALUES, BIND, a subselect) — and a
    constant as itself, with its ``@lang`` / ``^^dt``."""
    # quads input: SPARQL dataset semantics, same as query()/describe() —
    # top-level WHERE patterns see the default graph, GRAPH the named ones
    if "graph" in triples.columns:
        quads: DataFrame | None = triples
        triples = triples.where(F.col("graph").isNull())
    else:
        quads = None
    toks, prefixes = _prep(sparql)
    if not toks or toks[0].upper() != "CONSTRUCT":
        raise SparqlError("expected CONSTRUCT")
    if len(toks) < 2 or toks[1] != "{":
        raise SparqlError("CONSTRUCT requires a template group")
    tmpl_group, i = _parse_group(toks, 2)
    template = [el for el in tmpl_group.elements if isinstance(el, _Pattern)]
    if len(template) != len(tmpl_group.elements) or not template:
        raise SparqlError("CONSTRUCT template must be plain triple patterns")
    if i >= len(toks) or toks[i].upper() != "WHERE" or toks[i + 1] != "{":
        raise SparqlError("CONSTRUCT requires WHERE { ... }")
    group, j = _parse_group(toks, i + 2)
    if toks[j:]:
        raise SparqlError(
            f"unexpected token after CONSTRUCT WHERE: {toks[j]!r}")
    plan, bound = _compile_group(triples, group, prefixes, quads=quads)
    return _instantiate(template, plan, bound, prefixes)


def _instantiate(template: list, plan: DataFrame, bound: set[str],
                 prefixes: dict[str, str]) -> DataFrame:
    """Template triple patterns × solution multiset → lexical triples
    (subj, pred, obj_lexical, obj_kind, obj_datatype, obj_lang).  Shared
    by CONSTRUCT and the UPDATE forms: a variable instantiates as the
    term its solution binds."""
    null_s = F.lit(None).cast("string")

    def term_cols(term: str) -> tuple:
        """template term → (lexical, kind, datatype, lang) columns"""
        if term.startswith("?"):
            v = term[1:]
            if v not in bound:
                raise SparqlError(f"unbound variable in template: ?{v}")
            return tuple(F.col(f"{p}{v}")
                         for p in ("", "_kind_", "_dt_", "_lang_"))
        if term.startswith('"'):
            value, lang, dt = _literal_parts(term, prefixes)
            return (F.lit(value), F.lit("literal"), F.lit(dt).cast("string"),
                    F.lit(lang).cast("string"))
        if term.startswith("_:"):
            # a template blank label means a FRESH blank node per solution
            # (SPARQL 1.1 §16.2.1) — derived from the solution's bindings
            # + the label, so identical solutions collapse (the output is
            # a set) and distinct solutions never share a node
            key = F.concat_ws(
                "\x1f", F.lit(term),
                *[F.coalesce(F.col(v).cast("string"), F.lit(""))
                  for v in sorted(bound)])
            return F.concat(F.lit("_:c"), F.md5(key)), F.lit("blank"), \
                null_s, null_s
        return F.lit(_expand(term, prefixes)), F.lit("iri"), null_s, null_s

    outs = []
    for pat in template:
        if isinstance(pat.pred, tuple):
            raise SparqlError("property paths are not allowed in templates")
        obj = term_cols(pat.obj)
        outs.append(plan.select(
            term_cols(pat.subj)[0].alias("subj"),
            term_cols(pat.pred)[0].alias("pred"),
            *[c.alias(n) for c, n in zip(obj, (
                "obj_lexical", "obj_kind", "obj_datatype", "obj_lang"))]))
    result = outs[0]
    for o in outs[1:]:
        result = result.union(o)
    # an RDF graph is a set of triples
    return result.distinct()


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update — immutable-DataFrame form: returns the NEW graph
# ---------------------------------------------------------------------------


def _ground_rows(group: _Group, prefixes: dict[str, str]) -> list[tuple]:
    rows = []
    for el in group.elements:
        if not isinstance(el, _Pattern) or isinstance(el.pred, tuple) \
                or isinstance(el.obj, _Quoted):
            raise SparqlError("DATA blocks must be plain ground triples")
        for t in (el.subj, el.pred, el.obj):
            if t.startswith("?"):
                raise SparqlError("DATA blocks cannot contain variables")
        okind, value, dt, lang = _const_term(el.obj, prefixes)
        rows.append((
            el.subj if el.subj.startswith("_:")
            else _expand(el.subj, prefixes),
            _expand(el.pred, prefixes),
            value,
            okind,
            dt,
            lang,
        ))
    return rows


def _anti_by_term(out: DataFrame, delete_df: DataFrame) -> DataFrame:
    """Quads ``out`` minus ``delete_df``, matched by RDF term: subject,
    predicate, the object's ``kg.term_id`` over the literal metadata both
    frames record, and the graph, null-safely (NULL is the default
    graph).  Every key stays hash-joinable."""
    obj = _slot_terms(set(out.columns) & set(delete_df.columns))["obj"]
    keys = {"subj": F.col("subj"), "pred": F.col("pred"),
            "obj": obj["term_id"]}
    d = delete_df.select(F.col("graph").alias("_del_graph"), *[
        c.alias(f"_del_{k}") for k, c in keys.items()]).distinct()
    cond = F.col("graph").eqNullSafe(F.col("_del_graph"))
    for k, c in keys.items():
        cond &= c == F.col(f"_del_{k}")
    return out.join(d, cond, "left_anti")


def _graph_ref(toks: list[str], i: int,
               prefixes: dict[str, str]) -> tuple[str, str | None, int]:
    """DEFAULT | NAMED | ALL | [GRAPH] <iri> → (kind, iri|None, next_i)."""
    if i >= len(toks):
        raise SparqlError("expected a graph reference")
    t = toks[i].upper()
    if t in ("DEFAULT", "NAMED", "ALL"):
        return t.lower(), None, i + 1
    if t == "GRAPH":
        i += 1
        if i >= len(toks):
            raise SparqlError("GRAPH requires an IRI")
    return "iri", _expand(toks[i], prefixes), i + 1


def _flatten_template(group: _Group, with_graph: str | None,
                      prefixes: dict[str, str]
                      ) -> list[tuple[list[_Pattern], str | None]]:
    """Template group → [(patterns, target_graph)] — plain patterns target
    the WITH graph (or the default graph), GRAPH <iri> blocks their own."""
    plain: list[_Pattern] = []
    out: list[tuple[list[_Pattern], str | None]] = []
    for el in group.elements:
        if isinstance(el, _Pattern):
            plain.append(el)
        elif isinstance(el, tuple) and el and el[0] == "graph":
            term, sub = el[1], el[2]
            if term.startswith("?"):
                raise SparqlError(
                    "GRAPH in update templates must be a constant IRI")
            pats = [e for e in sub.elements if isinstance(e, _Pattern)]
            if len(pats) != len(sub.elements):
                raise SparqlError(
                    "GRAPH template blocks must be plain triple patterns")
            out.append((pats, _expand(term, prefixes)))
        else:
            raise SparqlError("update templates must be triple patterns "
                              "or GRAPH blocks")
    if plain:
        out.insert(0, (plain, with_graph))
    return out


@_public
def update(frame: DataFrame, sparql: str) -> DataFrame:
    """SPARQL 1.1 Update over an immutable graph: returns the NEW frame
    (never mutates the input — the natural Update semantics on top of
    snapshot tables like Iceberg: write the result as the next snapshot).

    ``frame`` holds lexical triples, or quads with a ``graph`` column
    (NULL = the default graph), as for :func:`query`.  A triples frame is
    the default graph alone: an operation that names any other graph
    (a GRAPH/NAMED target, WITH, USING, GRAPH in WHERE) raises
    :class:`SparqlError` instead of merging into the default graph.

    Supported: ``INSERT DATA``/``DELETE DATA`` with ``GRAPH { }`` blocks;
    ``DELETE WHERE { patterns }``; the template form ``[WITH <g>]
    [DELETE { t }] [INSERT { t }] (USING [NAMED] <g>)* WHERE { group }``
    with ``GRAPH { }`` template blocks; ``CLEAR``/``DROP`` ``[SILENT]
    (GRAPH <g> | DEFAULT | NAMED | ALL)``; ``CREATE [SILENT] GRAPH <g>``
    (a no-op — graphs exist implicitly in the quads model, so CREATE
    cannot fail and CLEAR ≡ DROP); ``MOVE/COPY/ADD [SILENT] (DEFAULT|
    [GRAPH] <g>) TO (DEFAULT|[GRAPH] <g>)``.

    Deletion matches by RDF term: subj, pred, the object's ``kg.term_id``
    (so ``"x"^^xsd:string`` deletes plain ``"x"`` and ``@en-us`` deletes
    ``@en-US``) and the graph, null-safely, so default-graph rows delete
    correctly.  Inserted literal rows carry their @lang / ^^datatype;
    extra columns of the input frame stay NULL on inserted rows."""
    toks, prefixes = _prep(sparql)
    if not toks:
        raise SparqlError("empty update")
    named = "graph" in frame.columns
    quads = frame if named else frame.withColumn(
        "graph", F.lit(None).cast("string"))

    def graph(iri: str | None) -> str | None:
        """A graph the operation names: a triples frame has none."""
        if iri is not None and not named:
            raise SparqlError(
                f"update targets a named graph ({iri}), but a triples "
                "frame is the default graph alone (pass quads with a "
                "'graph' column)")
        return iri

    def result(out: DataFrame) -> DataFrame:
        return out if named else out.drop("graph")

    def gmatch(kind: str, iri: str | None):
        if kind == "default":
            return F.col("graph").isNull()
        if kind == "all":
            return F.lit(True)
        if kind == "named":
            graph("NAMED")
            return F.col("graph").isNotNull()
        # null-safe: ~(NULL == iri) is NULL and would silently drop the
        # default graph's rows from every negated filter
        return F.col("graph").eqNullSafe(F.lit(graph(iri)))

    def apply(delete_df: DataFrame | None,
              insert_df: DataFrame | None) -> DataFrame:
        out = quads
        if delete_df is not None:
            out = _anti_by_term(out, delete_df)
        if insert_df is not None:
            keep = ["subj", "pred", "obj_lexical", "obj_kind", "graph"] + [
                c for c in ("obj_datatype", "obj_lang") if c in quads.columns]
            out = out.unionByName(insert_df.select(*keep).distinct(),
                                  allowMissingColumns=True)
        return result(out)

    head = toks[0].upper()
    i = 1
    if head in ("CREATE", "DROP", "CLEAR"):
        if i < len(toks) and toks[i].upper() == "SILENT":
            i += 1
        kind, iri, i = _graph_ref(toks, i, prefixes)
        if toks[i:]:
            raise SparqlError(f"unexpected token after {head}: {toks[i]!r}")
        if head == "CREATE":
            if kind != "iri":
                raise SparqlError("CREATE takes GRAPH <iri>")
            graph(iri)
            return frame
        return result(quads.where(~gmatch(kind, iri)))

    if head in ("MOVE", "COPY", "ADD"):
        if i < len(toks) and toks[i].upper() == "SILENT":
            i += 1
        skind, siri, i = _graph_ref(toks, i, prefixes)
        if i >= len(toks) or toks[i].upper() != "TO":
            raise SparqlError(f"{head} requires TO")
        dkind, diri, i = _graph_ref(toks, i + 1, prefixes)
        if toks[i:]:
            raise SparqlError(f"unexpected token after {head}: {toks[i]!r}")
        for k, iri in ((skind, siri), (dkind, diri)):
            if k not in ("default", "iri"):
                raise SparqlError(f"{head} takes DEFAULT or GRAPH <iri>")
            graph(iri)
        if (skind, siri) == (dkind, diri):
            return frame
        moved = quads.where(gmatch(skind, siri)).withColumn(
            "graph", F.lit(diri).cast("string"))
        if head == "ADD":
            return result(quads.unionByName(moved).distinct())
        out = quads.where(~gmatch(dkind, diri))
        if head == "MOVE":
            out = out.where(~gmatch(skind, siri))
        return result(out.unionByName(moved).distinct())

    if head in ("INSERT", "DELETE") and len(toks) > 1 \
            and toks[1].upper() == "DATA":
        if len(toks) < 3 or toks[2] != "{":
            raise SparqlError(f"{head} DATA requires a group")
        group, j = _parse_group(toks, 3)
        if toks[j:]:
            raise SparqlError(f"unexpected token after DATA: {toks[j]!r}")
        rows: list[tuple] = []
        for el in group.elements:
            if isinstance(el, tuple) and el and el[0] == "graph":
                if el[1].startswith("?"):
                    raise SparqlError("GRAPH in DATA blocks must be an IRI")
                g = graph(_expand(el[1], prefixes))
                rows += [r + (g,) for r in _ground_rows(el[2], prefixes)]
            else:
                rows += [r + (None,) for r in
                         _ground_rows(_Group(elements=[el]), prefixes)]
        df = frame.sparkSession.createDataFrame(
            rows, TRIPLE_SCHEMA + ", graph string")
        return apply(df, None) if head == "DELETE" else apply(None, df)

    with_graph: str | None = None
    if head == "WITH":
        if len(toks) < 2:
            raise SparqlError("WITH requires a graph IRI")
        with_graph = graph(_expand(toks[1], prefixes))
        toks = toks[2:]
    # DELETE WHERE { group } (the group is its own template), or
    # [DELETE {t}] [INSERT {t}] (USING [NAMED] <g>)* WHERE { group }
    del_tg: _Group | None = None
    ins_tg: _Group | None = None
    using: list[str] = []
    using_named: list[str] = []
    i = 0
    if [t.upper() for t in toks[:2]] == ["DELETE", "WHERE"]:
        if toks[2:3] != ["{"]:
            raise SparqlError("DELETE WHERE requires a group")
        group, j = _parse_group(toks, 3)
        del_tg = group
    else:
        while i < len(toks) and toks[i].upper() in ("DELETE", "INSERT"):
            kw = toks[i].upper()
            if toks[i + 1 : i + 2] != ["{"]:
                raise SparqlError(f"{kw} requires a template group")
            tg, i = _parse_group(toks, i + 2)
            if kw == "DELETE" and del_tg is None:
                del_tg = tg
            elif kw == "INSERT" and ins_tg is None:
                ins_tg = tg
            else:
                raise SparqlError(f"duplicate {kw} template")
        if del_tg is None and ins_tg is None:
            raise SparqlError(
                "expected INSERT DATA / DELETE DATA / DELETE WHERE / "
                "DELETE-INSERT-WHERE / a graph operation")
        while i < len(toks) and toks[i].upper() == "USING":
            i += 1
            into = using
            if i < len(toks) and toks[i].upper() == "NAMED":
                i += 1
                into = using_named
            if i >= len(toks):
                raise SparqlError("USING requires a graph IRI")
            into.append(graph(_expand(toks[i], prefixes)))
            i += 1
        if i >= len(toks) or toks[i].upper() != "WHERE" \
                or toks[i + 1 : i + 2] != ["{"]:
            raise SparqlError("update template form requires WHERE { ... }")
        group, j = _parse_group(toks, i + 2)
    if toks[j:]:
        raise SparqlError(f"unexpected token after WHERE: {toks[j]!r}")

    # (patterns, target graph) lists of the DELETE and INSERT templates
    templates = [None if tg is None else
                 [(pats, graph(g)) for pats, g
                  in _flatten_template(tg, with_graph, prefixes)]
                 for tg in (del_tg, ins_tg)]
    # top-level WHERE patterns see the USING graphs, else the WITH graph,
    # else the default graph; GRAPH patterns see every named graph — or,
    # with USING/USING NAMED clauses, exactly the USING NAMED list (empty
    # when only plain USING is given, per SPARQL 1.1 Update)
    if using:
        scope = quads.where(F.col("graph").isin(using))
    elif with_graph is not None:
        scope = quads.where(F.col("graph") == with_graph)
    else:
        scope = quads.where(F.col("graph").isNull())
    graph_quads = None
    if named:
        graph_quads = quads.where(F.col("graph").isin(using_named)) \
            if using or using_named else quads
    plan, bound = _compile_group(scope.drop("graph"), group, prefixes,
                                 quads=graph_quads)

    def inst(parts: list | None) -> DataFrame | None:
        out = None
        for pats, g in parts or []:
            part = _instantiate(pats, plan, bound, prefixes) \
                .withColumn("graph", F.lit(g).cast("string"))
            out = part if out is None else out.unionByName(part)
        return out

    return apply(*map(inst, templates))


@_public
def query_encoded(edges: DataFrame, terms: DataFrame,
                  sparql: str) -> DataFrame:
    """:func:`query` over the pipeline's dictionary-encoded tables
    (``pipeline/kg.py``: ``triples(subj_id, pred_id, obj_id)`` and
    ``terms``): the same compiler and the same answers as
    ``query(kg.decode_triples(edges, terms), sparql)``.

    Every pattern scans only the 8-byte id columns of ``edges`` (parquet
    prunes the rest at the source), filters constants on their folded
    ``kg.term_id``, compares a repeated variable's ids, joins on ids, and
    decodes each variable the query needs with one ``terms`` join.  A
    quoted triple joins the edges on ``obj_id`` to the ``triple`` rows of
    ``terms``, whose components are parsed once per term, not per edge.

    Contracts (as ``kg.dedup_triples`` and ``kg.encode_triples`` write
    the tables): ``edges`` is a set of ``(subj_id, pred_id, obj_id)``
    and ``terms`` holds each ``term_id`` once.  A pattern's variables and
    constants fix its edge, so id scans are sets and are not
    re-deduplicated; a repeated edge or term id multiplies rows.
    """
    return _query(_Warehouse(edges, terms), None, sparql)
