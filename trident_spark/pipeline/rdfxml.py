"""RDF/XML parser/serializer — the last of the reference's "parsers for
popular RDF formats" (/root/reference/README.md:31-33); RDF/XML is the
dominant legacy dump format (DBpedia, most ontology releases).

Distribution model mirrors pipeline/turtle.py and pipeline/jsonld.py: one
document per DataFrame row, parsed in one Arrow hop (mapInPandas); the
serializer emits one complete self-contained RDF/XML document per subject
(hub subjects chunk into multiple documents — RDF/XML merges repeated
``rdf:Description`` elements about the same resource, so any
concatenation/split is semantics-preserving).

Parser coverage (W3C RDF/XML syntax, the subset real dumps use):
node elements (``rdf:Description`` + typed), ``rdf:about``/``rdf:ID``/
``rdf:nodeID``, property elements with ``rdf:resource``/``rdf:nodeID``/
``rdf:datatype``, nested node elements, property attributes (on node and
empty property elements), ``rdf:parseType`` Resource/Literal/Collection,
``rdf:li`` container items, ``rdf:ID`` property reification, ``xml:base``
(resolved with the RFC 3987 kernel) and ``xml:lang`` inheritance.
Anything outside raises :class:`RdfXmlError` — never a silent drop.

Generated blank labels (anonymous nodes, collections, reifications) are
salted with a digest of the document — deterministic per document,
collision-free across documents.  Document-authored ``rdf:nodeID`` labels
stay verbatim, so serialized frames round-trip bit-identically.

XML cannot represent the C0 controls except TAB/LF/CR; the serializer
raises on such terms (loud, matching the strict-parse contract) and
escapes CR as ``&#13;`` so XML line-ending normalization cannot corrupt
literals on the way back in.  Predicates whose IRI has no XML-NCName
tail (e.g. ending in ``/`` or a digit segment) cannot be property
element names in RDF/XML AT ALL — a documented limitation of the format
itself — and raise loudly, matching rdflib/Jena behavior.
"""

from __future__ import annotations

import hashlib
import re
import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from trident_spark.pipeline.kg import TRIPLE_SCHEMA

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"
RDF_TYPE = RDF_NS + "type"
XML_LITERAL = RDF_NS + "XMLLiteral"


class RdfXmlError(ValueError):
    pass


def _rdf(name: str) -> str:
    return "{%s}%s" % (RDF_NS, name)


_SYNTAX_ATTRS = {_rdf(n) for n in
                 ("about", "ID", "nodeID", "resource", "datatype",
                  "parseType", "li")}
# rdf:aboutEach / rdf:aboutEachPrefix / rdf:bagID were withdrawn by the
# 2004 spec; seeing one is a hard error, not a property attribute.
_WITHDRAWN = {_rdf(n) for n in ("aboutEach", "aboutEachPrefix", "bagID")}

_NCNAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")


class _Parser:
    def __init__(self, text: str):
        self.out: list[tuple] = []
        self.salt = hashlib.blake2b(text.encode("utf-8"),
                                    digest_size=16).hexdigest()
        self.counter = 0
        try:
            self.root = ET.fromstring(text)
        except ET.ParseError as e:
            raise RdfXmlError(f"not well-formed XML: {e}") from None

    # -- helpers ------------------------------------------------------------

    def _bnode(self) -> str:
        self.counter += 1
        return f"_:x{self.salt}n{self.counter}"

    def _resolve(self, ref: str, base: str) -> str:
        if not base:
            return ref
        from trident_spark.kernels import iri as K

        try:
            return K.resolve(base, ref).iri
        except ValueError as e:
            raise RdfXmlError(f"cannot resolve {ref!r} against "
                              f"{base!r}: {e}") from None

    def _scope(self, el, base: str, lang: str) -> tuple[str, str]:
        b = el.get("{%s}base" % XML_NS)
        if b is not None:
            base = self._resolve(b, base) if base else b
        lang = el.get("{%s}lang" % XML_NS, lang)
        return base, lang

    def _emit(self, s, p, lex, kind, dt=None, lang=None) -> None:
        self.out.append((s, p, lex, kind, dt, lang))

    # -- grammar ------------------------------------------------------------

    @staticmethod
    def _no_stray_text(el, where: str) -> None:
        """Non-whitespace character data where only elements are legal is
        a hard error — a dump whose markup was stripped must fail loudly,
        not parse to a smaller graph (r4 review finding)."""
        if (el.text or "").strip():
            raise RdfXmlError(
                f"stray text content inside {where}: {el.text.strip()[:40]!r}")
        for child in el:
            if (child.tail or "").strip():
                raise RdfXmlError(
                    f"stray text after an element inside {where}: "
                    f"{child.tail.strip()[:40]!r}")

    def parse(self) -> list[tuple]:
        base, lang = self._scope(self.root, "", "")
        if self.root.tag == _rdf("RDF"):
            self._no_stray_text(self.root, "rdf:RDF")
            for child in self.root:
                self.node_element(child, base, lang)
        else:  # a single node element as document root is legal
            self.node_element(self.root, base, lang)
        return self.out

    def node_element(self, el, base: str, lang: str) -> str:
        base, lang = self._scope(el, base, lang)
        about = el.get(_rdf("about"))
        rid = el.get(_rdf("ID"))
        node_id = el.get(_rdf("nodeID"))
        if sum(x is not None for x in (about, rid, node_id)) > 1:
            raise RdfXmlError(
                "rdf:about / rdf:ID / rdf:nodeID are mutually exclusive")
        if about is not None:
            subj = self._resolve(about, base)
        elif rid is not None:
            if not _NCNAME.match(rid):
                raise RdfXmlError(f"rdf:ID is not an NCName: {rid!r}")
            subj = self._resolve(f"#{rid}", base)
        elif node_id is not None:
            if not _NCNAME.match(node_id):
                raise RdfXmlError(f"rdf:nodeID is not an NCName: {node_id!r}")
            subj = f"_:{node_id}"
        else:
            subj = self._bnode()

        if el.tag != _rdf("Description"):
            self._emit(subj, RDF_TYPE, self._tag_iri(el), "iri")

        # property attributes on the node element
        for attr, value in el.attrib.items():
            if attr in _SYNTAX_ATTRS or attr.startswith("{%s}" % XML_NS):
                continue
            if attr in _WITHDRAWN:
                raise RdfXmlError(f"withdrawn RDF attribute: {attr}")
            if attr == _rdf("type"):
                self._emit(subj, RDF_TYPE, self._resolve(value, base), "iri")
                continue
            if not attr.startswith("{"):
                raise RdfXmlError(
                    f"non-namespaced attribute {attr!r} is not legal "
                    "RDF/XML (property attributes must be namespaced)")
            self._emit(subj, self._attr_iri(attr), value, "literal",
                       None, lang or None)

        self._no_stray_text(el, "a node element")
        li_counter = [0]
        for prop in el:
            self.property_element(subj, prop, base, lang, li_counter)
        return subj

    def _tag_iri(self, el) -> str:
        if not el.tag.startswith("{"):
            raise RdfXmlError(
                f"non-namespaced element {el.tag!r} is not legal RDF/XML")
        return el.tag[1:].replace("}", "")

    def _attr_iri(self, attr: str) -> str:
        return attr[1:].replace("}", "")

    def property_element(self, subj: str, el, base: str, lang: str,
                         li_counter: list[int]) -> None:
        base, lang = self._scope(el, base, lang)
        if el.tag == _rdf("li"):
            li_counter[0] += 1
            pred = f"{RDF_NS}_{li_counter[0]}"
        else:
            pred = self._tag_iri(el)

        rid = el.get(_rdf("ID"))
        parse_type = el.get(_rdf("parseType"))
        resource = el.get(_rdf("resource"))
        node_id = el.get(_rdf("nodeID"))
        prop_attrs = {
            a: v for a, v in el.attrib.items()
            if a not in _SYNTAX_ATTRS and a != _rdf("ID")
            and not a.startswith("{%s}" % XML_NS)
        }
        for a in prop_attrs:
            if a in _WITHDRAWN:
                raise RdfXmlError(f"withdrawn RDF attribute: {a}")
            if not a.startswith("{") and a != _rdf("type"):
                raise RdfXmlError(
                    f"non-namespaced attribute {a!r} is not legal RDF/XML")

        children = list(el)

        if parse_type == "Resource":
            if resource is not None or node_id is not None or prop_attrs:
                raise RdfXmlError(
                    "parseType='Resource' excludes rdf:resource/"
                    "rdf:nodeID/property attributes")
            b = self._bnode()
            obj = (b, "blank", None, None)
            self._no_stray_text(el, "parseType='Resource'")
            inner_li = [0]
            for sub in children:
                self.property_element(b, sub, base, lang, inner_li)
        elif parse_type == "Collection":
            self._no_stray_text(el, "parseType='Collection'")
            obj_nodes = [self.node_element(c, base, lang) for c in children]
            if not obj_nodes:
                obj = (RDF_NS + "nil", "iri", None, None)
            else:
                cells = [self._bnode() for _ in obj_nodes]
                for i, (cell, item) in enumerate(zip(cells, obj_nodes)):
                    kind = "blank" if item.startswith("_:") else "iri"
                    self._emit(cell, RDF_NS + "first", item, kind)
                    nxt = (cells[i + 1] if i + 1 < len(cells)
                           else RDF_NS + "nil")
                    nkind = "blank" if nxt.startswith("_:") else "iri"
                    self._emit(cell, RDF_NS + "rest", nxt, nkind)
                obj = (cells[0], "blank", None, None)
        elif parse_type is not None:
            # "Literal" — and, per spec, any unknown parseType value
            # behaves like "Literal": inner XML serialized verbatim
            parts = [el.text or ""]
            for sub in children:
                parts.append(ET.tostring(sub, encoding="unicode"))
            obj = ("".join(parts), "literal", XML_LITERAL, None)
        elif children:
            if (resource is not None or node_id is not None or prop_attrs
                    or (el.text or "").strip()):
                raise RdfXmlError(
                    "a property element with a node-element child takes "
                    "no other content")
            if len(children) != 1:
                raise RdfXmlError(
                    "a property element holds exactly one node element")
            if (children[0].tail or "").strip():
                raise RdfXmlError(
                    "stray text after the node element inside a property "
                    f"element: {children[0].tail.strip()[:40]!r}")
            item = self.node_element(children[0], base, lang)
            obj = (item, "blank" if item.startswith("_:") else "iri",
                   None, None)
        elif resource is not None or node_id is not None or prop_attrs:
            if resource is not None and node_id is not None:
                raise RdfXmlError(
                    "rdf:resource and rdf:nodeID are mutually exclusive")
            if (el.text or "").strip():
                raise RdfXmlError(
                    "a resource-valued property element takes no text")
            if resource is not None:
                item = self._resolve(resource, base)
                obj = (item, "iri", None, None)
            elif node_id is not None:
                if not _NCNAME.match(node_id):
                    raise RdfXmlError(
                        f"rdf:nodeID is not an NCName: {node_id!r}")
                item = f"_:{node_id}"
                obj = (item, "blank", None, None)
            else:
                item = self._bnode()
                obj = (item, "blank", None, None)
            for attr, value in prop_attrs.items():
                if attr == _rdf("type"):
                    self._emit(item, RDF_TYPE,
                               self._resolve(value, base), "iri")
                else:
                    self._emit(item, self._attr_iri(attr), value,
                               "literal", None, lang or None)
        else:
            dt = el.get(_rdf("datatype"))
            if dt is not None:
                obj = (el.text or "", "literal",
                       self._resolve(dt, base), None)
            else:
                obj = (el.text or "", "literal", None, lang or None)

        self._emit(subj, pred, *obj)
        if rid is not None:
            if not _NCNAME.match(rid):
                raise RdfXmlError(f"rdf:ID is not an NCName: {rid!r}")
            st = self._resolve(f"#{rid}", base)
            skind = "blank" if subj.startswith("_:") else "iri"
            self._emit(st, RDF_TYPE, RDF_NS + "Statement", "iri")
            self._emit(st, RDF_NS + "subject", subj, skind)
            self._emit(st, RDF_NS + "predicate", pred, "iri")
            self._emit(st, RDF_NS + "object", *obj)


def parse_rdfxml(text: str) -> list[tuple]:
    """RDF/XML document → [(subj, pred, obj_lexical, obj_kind,
    obj_datatype, obj_lang)].  Raises :class:`RdfXmlError` on anything
    outside the supported grammar — never silently drops statements."""
    return _Parser(text).parse()


def from_rdfxml(docs: DataFrame, doc_col: str = "doc") -> DataFrame:
    """docs(doc string) — one RDF/XML document per row → parsed triples."""

    def run(iterator):
        cols = ["subj", "pred", "obj_lexical", "obj_kind",
                "obj_datatype", "obj_lang"]
        for pdf in iterator:
            rows: list[tuple] = []
            for text in pdf[doc_col]:
                if text:
                    rows.extend(parse_rdfxml(text))
            yield pd.DataFrame(rows, columns=cols)

    from trident_spark.util import ensure_parallelism

    return ensure_parallelism(docs).mapInPandas(run, TRIPLE_SCHEMA)


# ---------------------------------------------------------------------------
# Serializer
# ---------------------------------------------------------------------------

# chars XML 1.0 cannot carry at all (C0 minus TAB/LF/CR)
_XML_INVALID = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")
# local part of a property QName: longest NCName-shaped tail
_LOCAL_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_.\-]*$")


def _xml_check(s: str) -> str:
    if _XML_INVALID.search(s):
        raise ValueError(
            f"XML 1.0 cannot represent control characters: {s!r}")
    return s


def _esc_text(s: str) -> str:
    # CR must be escaped (XML line-ending normalization would fold it to
    # LF on re-parse); LF is escaped too so every serialized document is
    # single-line — the distributed text export writes one complete
    # document per line, jsonlines-style.
    return (_xml_check(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace("\r", "&#13;")
            .replace("\n", "&#10;"))


def _esc_attr(s: str) -> str:
    return _esc_text(s).replace('"', "&quot;").replace("\t", "&#9;")


def _split_pred(pred: str) -> tuple[str, str]:
    m = _LOCAL_RE.search(pred)
    if not m or m.start() == 0:
        raise ValueError(
            f"predicate has no XML-QName-compatible local part: {pred!r}")
    return pred[: m.start()], m.group(0)


def _render_subject(subj: str, pos) -> str:
    if subj.startswith("_:"):
        label = subj[2:]
        if not _NCNAME.match(label):
            raise ValueError(
                f"blank label is not an XML NCName: {subj!r}")
        s_attr = f'rdf:nodeID="{label}"'
    else:
        s_attr = f'rdf:about="{_esc_attr(subj)}"'
    props = []
    for p in sorted(pos, key=lambda r: (r["pred"], r["obj_kind"],
                                        r["obj_lexical"],
                                        r["obj_datatype"] or "",
                                        r["obj_lang"] or "")):
        ns, local = _split_pred(p["pred"])
        open_ = f'<n:{local} xmlns:n="{_esc_attr(ns)}"'
        kind = p["obj_kind"]
        if kind == "iri":
            props.append(
                f'{open_} rdf:resource="{_esc_attr(p["obj_lexical"])}"/>')
        elif kind == "blank":
            label = p["obj_lexical"][2:]
            if not _NCNAME.match(label):
                raise ValueError("blank label is not an XML NCName: "
                                 f"{p['obj_lexical']!r}")
            props.append(f'{open_} rdf:nodeID="{label}"/>')
        elif kind == "literal":
            body = _esc_text(p["obj_lexical"])
            if p["obj_lang"] and "--" in p["obj_lang"]:
                # RDF/XML has no syntax for RDF 1.2 base direction
                # (xml:lang carries only the language tag) — serializing
                # one silently as @lang would corrupt the round-trip
                raise ValueError(
                    "RDF/XML cannot express a base-direction literal "
                    f"(lang {p['obj_lang']!r}); use Turtle/N-Triples/"
                    "JSON-LD for directional text")
            if p["obj_lang"]:
                # escape: a lang tag parsed from a single-quoted XML
                # attribute may legally carry '"' or '<' — interpolating
                # it raw would emit malformed XML that only fails on
                # re-parse (the round-trip contract wants it loud here)
                props.append(f'{open_} xml:lang="{_esc_attr(p["obj_lang"])}">'
                             f"{body}</n:{local}>")
            elif p["obj_datatype"]:
                props.append(
                    f'{open_} rdf:datatype='
                    f'"{_esc_attr(p["obj_datatype"])}">{body}</n:{local}>')
            else:
                props.append(f"{open_}>{body}</n:{local}>")
        else:
            raise ValueError(
                f"RDF/XML cannot serialize obj_kind {kind!r} "
                "(quoted triples have no RDF/XML form)")
    return (f'<rdf:RDF xmlns:rdf="{RDF_NS}">'
            f"<rdf:Description {s_attr}>" + "".join(props) +
            "</rdf:Description></rdf:RDF>")


def to_rdfxml(triples: DataFrame, chunk_size: int = 10000) -> DataFrame:
    """Lexical triples → one complete RDF/XML document per subject
    (``doc`` string rows; property elements sorted → deterministic).

    Every property element carries its own ``xmlns:n`` declaration, so no
    global prefix coordination is needed and each row is a valid
    standalone document.  Hub subjects with more than ``chunk_size``
    triples split into multiple documents (secondary chunk key via
    :func:`trident_spark.util.subject_chunk_key`) — legal because
    repeated ``rdf:Description`` blocks about one resource merge — which
    bounds per-task block size at any corpus scale."""
    from trident_spark.util import subject_chunk_key

    chunked = subject_chunk_key(
        triples, ["subj"], chunk_size,
        hash_cols=["pred", "obj_lexical", "obj_datatype", "obj_lang"])
    grouped = (
        chunked.groupBy("subj", "_chunk")
        .agg(F.collect_set(F.struct("pred", "obj_lexical", "obj_kind",
                                    "obj_datatype", "obj_lang")).alias("pos"))
    )

    def render(iterator):
        for pdf in iterator:
            docs = [
                _render_subject(subj, pos)
                for subj, pos in zip(pdf["subj"], pdf["pos"])
            ]
            yield pd.DataFrame({"doc": docs})

    return grouped.mapInPandas(render, "doc string")
