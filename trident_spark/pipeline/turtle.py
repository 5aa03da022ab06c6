"""Turtle parser: the inverse of :func:`trident_spark.pipeline.sinks.to_turtle`.

The reference plans "RDF format parsers and serializers"
(/root/reference/README.md:30-37); N-Triples round-trips shipped in round 1,
this adds the Turtle reader so existing KGs serialized as Turtle can be
ingested.  Supported surface (a practical Turtle subset):

- ``@prefix``/``PREFIX`` and ``@base``/``BASE`` directives
- subject blocks with ``;`` predicate lists and ``,`` object lists
- ``<IRI>``, prefixed names (``schema:name``), the ``a`` keyword
- ``"literal"`` with ``\\`` ``\"`` ``\n`` ``\r`` ``\t`` escapes, ``@lang``
  tags and ``^^`` datatypes (IRI or prefixed)
- blank node labels ``_:b1``
- blank node property lists ``[ p o ; ... ]`` (subject or object position,
  including anonymous ``[]``) — fresh labels salted per document so
  parsing many documents into one DataFrame cannot merge distinct nodes
- collections ``( a b c )`` expanded to rdf:first/rest chains, ``()`` →
  rdf:nil
- bare integers/decimals/booleans (typed per Turtle spec)
- ``#`` comments (outside IRIs and strings)
- RDF 1.2 triple terms ``<<( s p o )>>`` in object position (parsed to the
  pipeline's canonical ``obj_kind='triple'`` representation, nesting
  included — the inverse of what ``to_turtle`` renders for reified frames)
- RDF 1.2 reifier sugar ``<< s p o >>`` (subject + object position) and
  annotation blocks ``{| … |}`` (repeatable; fresh reifier each)
- ``\\uXXXX`` / ``\\UXXXXXXXX`` numeric escapes in string literals and
  IRIREFs (surrogates rejected loudly)

Not supported (raises TurtleError, never silently drops): triple-quoted
strings.

Distribution model: one Turtle *document* per DataFrame row (Turtle is not
line-oriented — a subject block spans lines, and prefixes scope the whole
document), parsed in one Arrow hop via mapInPandas and exploded to the
lexical-triple schema.  At 100 TB the unit of parallelism is the document,
which matches how KG dumps ship (many .ttl files / chunks).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame

from trident_spark.pipeline.kg import TRIPLE_SCHEMA

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"


class TurtleError(ValueError):
    pass


_TOKEN_RE = re.compile(
    r"""
      <<\( | \)>>                                       # RDF 1.2 triple term
    | << | >>                                           # reifier sugar
    | \{\| | \|\}                                       # annotation block
    | <[^>]*>                                           # IRI
    | "(?:[^"\\]|\\.)*"                                 # string literal
    | @[A-Za-z][A-Za-z0-9\-]*                           # @prefix/@base/@lang
    | \^\^                                              # datatype marker
    | _:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])? # blank node label
    | [A-Za-z_][\w\-]*:(?:[\w\-%](?:[\w\-.%]*[\w\-%])?)?  # pname (PN_LOCAL
    | :(?:[\w\-%](?:[\w\-.%]*[\w\-%])?)?                #  never ENDS with .)
    | [A-Za-z_][\w\-]*                                  # bare word (a, true, PREFIX)
    | [+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?  # number
    | [.;,{}\[\]()]                                     # punctuation
    """,
    re.VERBOSE,
)

_COMMENT_SAFE = re.compile(r'(<[^>]*>|"(?:[^"\\]|\\.)*")|#[^\n]*')

# Turtle/N-Triples 1.2 LANG_DIR: BCP47-shaped tag + optional '--ltr'/'--rtl'
_LANG_DIR_RE = re.compile(r"^[A-Za-z]+(?:-[A-Za-z0-9]+)*--(?:ltr|rtl)$")

_UNESCAPE = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r",
             "\\t": "\t", "\\b": "\b", "\\f": "\f", "\\'": "'"}
# one pass over ALL escape sequences: named, numeric (\uXXXX/\UXXXXXXXX),
# and anything else (rejected loudly — a skipped escape would silently
# keep the raw backslash text in the literal)
_UNESCAPE_RE = re.compile(
    r"\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}|\\.")


def _unescape_one(m: re.Match) -> str:
    tok = m.group(0)
    if tok[1] in "uU":
        cp = int(tok[2:], 16)
        if 0xD800 <= cp <= 0xDFFF:
            # RDF UCHAR forbids surrogates; a lone surrogate would survive
            # parsing only to crash the Arrow hop far from the document
            raise TurtleError(f"surrogate code point in escape {tok!r}")
        return chr(cp)
    try:
        return _UNESCAPE[tok]
    except KeyError:
        raise TurtleError(f"unsupported escape sequence {tok!r}") from None


def _strip_comments(text: str) -> str:
    # comments die only OUTSIDE IRIs and quoted strings
    return _COMMENT_SAFE.sub(lambda m: m.group(1) or "", text)


def _tokenize(text: str) -> list[str]:
    toks, pos = [], 0
    text = _strip_comments(text)
    for m in _TOKEN_RE.finditer(text):
        gap = text[pos : m.start()]
        if gap.strip():
            raise TurtleError(f"cannot tokenize: {gap.strip()[:40]!r}")
        toks.append(m.group(0))
        pos = m.end()
    if text[pos:].strip():
        raise TurtleError(f"cannot tokenize: {text[pos:].strip()[:40]!r}")
    return toks


_NUMBER_RE = re.compile(
    r"^[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?$")


def render_term(lex: str, kind: str, dt: str | None = None,
                lang: str | None = None) -> str:
    """A term → its canonical N-Triples 1.2 rendering inside a triple term,
    the form ``rdfstar.triple_term`` writes: an IRI keeps its spelling
    (no IRI-to-URI conversion), a literal escapes backslash, double
    quote, LF, CR and TAB."""
    if kind == "iri":
        return f"<{lex}>"
    if kind in ("blank", "triple"):
        return lex
    for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                 ("\r", "\\r"), ("\t", "\\t")):
        lex = lex.replace(a, b)
    if lang:
        return f'"{lex}"@{lang}'
    if dt:
        return f'"{lex}"^^<{dt}>'
    return f'"{lex}"'


class _Parser:
    def __init__(self, toks: list[str], salt: str = ""):
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.out: list[tuple] = []
        self._salt = salt
        self._gen = 0

    def _peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> str:
        if self.i >= len(self.toks):
            raise TurtleError("unexpected end of input")
        t = self.toks[self.i]
        self.i += 1
        return t

    def _expect(self, tok: str):
        t = self._next()
        if t != tok:
            raise TurtleError(f"expected {tok!r}, got {t!r}")

    # -- term resolution ----------------------------------------------------

    _IRI_UCHAR = re.compile(r"\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}|\\")

    def _iri(self, tok: str) -> str:
        val = tok[1:-1]
        if "\\" in val:
            # IRIREF UCHAR escapes decode; any other backslash is invalid
            # in an IRIREF -> loud error, never raw backslash text
            def dec(m: re.Match) -> str:
                if len(m.group(0)) == 1:
                    raise TurtleError(f"invalid backslash in IRI {tok!r}")
                return _unescape_one(m)

            val = self._IRI_UCHAR.sub(dec, val)
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", val):
            from trident_spark.kernels import iri as K

            val = K.resolve(self.base, val).iri
        return val

    def _pname(self, tok: str) -> str:
        pfx, _, local = tok.partition(":")
        if pfx not in self.prefixes:
            raise TurtleError(f"undefined prefix {pfx!r}:")
        return self.prefixes[pfx] + local

    def _subject(self, tok: str) -> str:
        if tok.startswith("<"):
            return self._iri(tok)
        if tok.startswith("_:"):
            return tok
        if ":" in tok:
            return self._pname(tok)
        raise TurtleError(f"invalid subject {tok!r}")

    def _predicate(self, tok: str) -> str:
        if tok == "a":
            return RDF_TYPE
        if tok.startswith("<"):
            return self._iri(tok)
        if ":" in tok and not tok.startswith("_:"):
            return self._pname(tok)
        raise TurtleError(f"invalid predicate {tok!r}")

    def _fresh_blank(self) -> str:
        """Fresh blank-node label for [...] / (...) — salted with a digest
        of the document so labels from different documents parsed into the
        same DataFrame cannot collide (blank labels are document-scoped)."""
        self._gen += 1
        return f"_:g{self._salt}n{self._gen}"

    def _bnode_property_list(self) -> str:
        """'[' already consumed: parse predicateObjectList until ']',
        emitting the triples; returns the fresh blank label."""
        label = self._fresh_blank()
        if self._peek() == "]":  # anonymous node []
            self._next()
            return label
        self._predicate_object_list(label, ends=("]",))
        self._expect("]")
        return label

    def _collection(self) -> tuple[str, str, str | None, str | None]:
        """'(' already consumed: RDF collection → rdf:first/rest/nil chain;
        '()' is rdf:nil itself."""
        items = []
        while True:
            tok = self._next()
            if tok == ")":
                break
            items.append(self._object(tok))
        if not items:
            return RDF_NS + "nil", "iri", None, None
        labels = [self._fresh_blank() for _ in items]
        for i, (label, item) in enumerate(zip(labels, items)):
            self.out.append((label, RDF_NS + "first", *item[:2], *item[2:]))
            rest = (labels[i + 1], "blank") if i + 1 < len(items) \
                else (RDF_NS + "nil", "iri")
            self.out.append((label, RDF_NS + "rest", rest[0], rest[1],
                             None, None))
        return labels[0], "blank", None, None

    def _triple_term_lex(self, s: str, p: str, o: tuple) -> str:
        """(s, p, (lex, kind, dt, lang)) → canonical ``<<( … )>>`` form."""
        s_kind = "blank" if s.startswith("_:") else "iri"
        return (f"<<( {render_term(s, s_kind)} {render_term(p, 'iri')} "
                f"{render_term(*o)} )>>")

    def _reifier(self, s: str, p: str, o: tuple) -> str:
        """Fresh reifier blank node r with r rdf:reifies <<( s p o )>>."""
        r = self._fresh_blank()
        self.out.append((r, RDF_NS + "reifies",
                         self._triple_term_lex(s, p, o), "triple",
                         None, None))
        return r

    def _object(self, tok: str) -> tuple[str, str, str | None, str | None]:
        """→ (lexical, kind, datatype, lang)."""
        if tok == "[":
            return self._bnode_property_list(), "blank", None, None
        if tok == "(":
            return self._collection()
        if tok == "<<":
            # RDF 1.2 reifier sugar: the embedded triple is NOT asserted;
            # the term is a fresh reifier for it
            s = self._subject(self._next())
            p = self._predicate(self._next())
            o = self._object(self._next())
            self._expect(">>")
            return self._reifier(s, p, o), "blank", None, None
        if tok == "<<(":
            # RDF 1.2 triple term: parse components, store canonically
            s = self._subject(self._next())
            p = self._predicate(self._next())
            o = self._object(self._next())
            self._expect(")>>")
            return self._triple_term_lex(s, p, o), "triple", None, None
        if tok.startswith("<"):
            return self._iri(tok), "iri", None, None
        if tok.startswith("_:"):
            return tok, "blank", None, None
        if tok.startswith('"'):
            lex = _UNESCAPE_RE.sub(_unescape_one, tok[1:-1])
            nxt = self._peek()
            if nxt is not None and nxt.startswith("@"):
                lang = self._next()[1:]
                # Turtle 1.2 LANG_DIR: an optional base direction rides on
                # the tag as `--ltr` / `--rtl` (lowercase, exactly one)
                if "--" in lang and not _LANG_DIR_RE.match(lang):
                    raise TurtleError(f"invalid language-direction tag "
                                      f"@{lang!r}")
                return lex, "literal", None, lang
            if nxt == "^^":
                self._next()
                dt_tok = self._next()
                dt = (self._iri(dt_tok) if dt_tok.startswith("<")
                      else self._pname(dt_tok))
                return lex, "literal", dt, None
            return lex, "literal", None, None
        if tok in ("true", "false"):
            return tok, "literal", XSD + "boolean", None
        if _NUMBER_RE.match(tok):
            if "e" in tok.lower():
                return tok, "literal", XSD + "double", None
            if "." in tok:
                return tok, "literal", XSD + "decimal", None
            return tok, "literal", XSD + "integer", None
        if ":" in tok:
            return self._pname(tok), "iri", None, None
        raise TurtleError(f"invalid object {tok!r}")

    # -- statements ---------------------------------------------------------

    def _directive(self, tok: str):
        up = tok.lstrip("@").upper()
        sparql_style = not tok.startswith("@")
        if up == "PREFIX":
            name = self._next()
            if not name.endswith(":"):
                # tokenized as 'ns:' pname with empty local, or bare ':'
                raise TurtleError(f"bad prefix name {name!r}")
            iri_tok = self._next()
            if not iri_tok.startswith("<"):
                raise TurtleError(f"prefix IRI must be <...>, got {iri_tok!r}")
            self.prefixes[name[:-1]] = self._iri(iri_tok)
        elif up == "BASE":
            iri_tok = self._next()
            if not iri_tok.startswith("<"):
                raise TurtleError(f"base IRI must be <...>, got {iri_tok!r}")
            # each @base resolves against the base in scope (Turtle §6.3)
            self.base = self._iri(iri_tok)
        else:
            raise TurtleError(f"unknown directive {tok!r}")
        if not sparql_style:
            self._expect(".")

    def _predicate_object_list(self, subj: str, ends: tuple = (".",)):
        """predicateObjectList for ``subj``; stops BEFORE the terminator
        ('.' at statement level, ']' inside a property list, also '}'
        inside TriG graph blocks)."""
        while True:
            pred = self._predicate(self._next())
            while True:  # object list
                lex, kind, dt, lang = self._object(self._next())
                self.out.append((subj, pred, lex, kind, dt, lang))
                while self._peek() == "{|":
                    # RDF 1.2 annotation: the base triple IS asserted
                    # (already appended); each block gets a fresh reifier
                    # (annotation ::= (reifier | annotationBlock)*)
                    self._next()
                    r = self._reifier(subj, pred, (lex, kind, dt, lang))
                    self._predicate_object_list(r, ends=("|}",))
                    self._expect("|}")
                if self._peek() == ",":
                    self._next()
                    continue
                break
            if self._peek() == ";":
                self._next()
                if self._peek() in ends or self._peek() is None:  # dangling ';'
                    break
                continue
            break

    def _statement_body(self, tok: str, ends: tuple = (".",)):
        """One triples statement starting at ``tok``, WITHOUT consuming the
        terminator."""
        if tok == "[":
            # blankNodePropertyList subject; predicateObjectList after
            # the ']' is optional per the grammar
            subj = self._bnode_property_list()
            if self._peek() not in ends and self._peek() is not None:
                self._predicate_object_list(subj, ends)
            return
        if tok == "(":
            subj = self._collection()[0]
            self._predicate_object_list(subj, ends)
            return
        if tok == "<<":  # reifier sugar in subject position
            s = self._subject(self._next())
            p = self._predicate(self._next())
            o = self._object(self._next())
            self._expect(">>")
            self._predicate_object_list(self._reifier(s, p, o), ends)
            return
        subj = self._subject(tok)
        self._predicate_object_list(subj, ends)

    def parse(self) -> list[tuple]:
        while self.i < len(self.toks):
            tok = self._next()
            up = tok.lstrip("@").upper()
            if up in ("PREFIX", "BASE"):
                self._directive(tok)
                continue
            self._statement_body(tok)
            self._expect(".")
        return self.out


class _TrigParser(_Parser):
    """TriG = Turtle + graph blocks: ``{ ... }`` (default graph),
    ``GRAPH <g> { ... }``, and the ``<g> { ... }`` shorthand; plain Turtle
    statements land in the default graph.  Emits 7-tuples (+graph)."""

    def _graph_term(self, tok: str) -> str:
        if tok.startswith("_:"):
            return tok
        if tok.startswith("<"):
            return self._iri(tok)
        if ":" in tok:
            return self._pname(tok)
        raise TurtleError(f"invalid graph name {tok!r}")

    def _tag(self, start: int, graph: str | None):
        for k in range(start, len(self.out)):
            self.out[k] = self.out[k] + (graph,)

    def _block(self, graph: str | None):
        """'{' consumed: triples statements until '}' (final '.' optional
        per the TriG grammar)."""
        while True:
            if self._peek() == "}":
                self._next()
                return
            tok = self._next()
            start = len(self.out)
            self._statement_body(tok, ends=(".", "}"))
            if self._peek() == ".":
                self._next()
            elif self._peek() != "}":
                raise TurtleError(
                    f"expected '.' or '}}' in graph block, got "
                    f"{self._peek()!r}")
            self._tag(start, graph)

    def parse(self) -> list[tuple]:
        while self.i < len(self.toks):
            tok = self._next()
            up = tok.lstrip("@").upper()
            if up in ("PREFIX", "BASE"):
                self._directive(tok)
                continue
            if tok == "{":
                self._block(None)
                continue
            if up == "GRAPH":
                g = self._graph_term(self._next())
                self._expect("{")
                self._block(g)
                continue
            if self._peek() == "{":  # <g> { ... } shorthand
                g = self._graph_term(tok)
                self._next()
                self._block(g)
                continue
            start = len(self.out)
            self._statement_body(tok)
            self._expect(".")
            self._tag(start, None)
        return self.out


def parse_trig(text: str) -> list[tuple]:
    """TriG document → [(subj, pred, obj_lexical, obj_kind, obj_datatype,
    obj_lang, graph)] — graph None for default-graph statements.  Same
    error contract and label salting as :func:`parse_turtle`."""
    import hashlib

    salt = hashlib.blake2b(text.encode("utf-8"), digest_size=16).hexdigest()
    return _TrigParser(_tokenize(text), salt=salt).parse()


def from_trig(docs: DataFrame, doc_col: str = "doc") -> DataFrame:
    """docs(doc string) — one TriG document per row → parsed quads."""

    def run(iterator):
        cols = ["subj", "pred", "obj_lexical", "obj_kind",
                "obj_datatype", "obj_lang", "graph"]
        for pdf in iterator:
            rows: list[tuple] = []
            for text in pdf[doc_col]:
                if text:
                    rows.extend(parse_trig(text))
            yield pd.DataFrame(rows, columns=cols)

    from trident_spark.util import ensure_parallelism

    return ensure_parallelism(docs).mapInPandas(
        run, TRIPLE_SCHEMA + ", graph string")


def canonical_triple_term(text: str) -> str:
    """An N-Triples 1.2 triple term ``<<( s p o )>>``, in any spacing and
    with any escapes, → the canonical form the pipeline stores.  Raises
    TurtleError unless ``text`` is exactly one triple term."""
    p = _Parser(_tokenize(text))
    lex, kind, _, _ = p._object(p._next())
    if kind != "triple" or p._peek() is not None or p.out:
        raise TurtleError(f"not one triple term: {text[:40]!r}")
    return lex


def parse_turtle(text: str) -> list[tuple]:
    """Turtle document → [(subj, pred, obj_lexical, obj_kind, obj_datatype,
    obj_lang)].  Raises TurtleError on anything outside the supported
    subset — never silently drops statements.  Generated blank labels
    ([...] / (...)) are salted with a digest of the document: parsing is
    deterministic per document, collision-free across documents."""
    import hashlib

    salt = hashlib.blake2b(text.encode("utf-8"), digest_size=16).hexdigest()
    return _Parser(_tokenize(text), salt=salt).parse()


def from_turtle(docs: DataFrame, doc_col: str = "doc") -> DataFrame:
    """docs(doc string) — one Turtle document per row → parsed triples."""

    def run(iterator):
        cols = ["subj", "pred", "obj_lexical", "obj_kind",
                "obj_datatype", "obj_lang"]
        for pdf in iterator:
            rows: list[tuple] = []
            for text in pdf[doc_col]:
                if text:
                    rows.extend(parse_turtle(text))
            yield pd.DataFrame(rows, columns=cols)

    from trident_spark.util import ensure_parallelism

    return ensure_parallelism(docs).mapInPandas(run, TRIPLE_SCHEMA)
