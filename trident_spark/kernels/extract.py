"""Structured-data extraction kernel: HTML bytes → candidate RDF triples.

Implements the per-page semantics the north-star pipeline needs (the
reference defines the *term* model — iri/langtag — but no extractors; these
generalize its README RDF model, README.md:52-121, to Common-Crawl pages):

- JSON-LD   — ``<script type="application/ld+json">`` blocks, pragmatic
              expansion: @context prefix/vocab maps, @id/@type/@value/
              @language/@list nesting, schema.org default vocab.
- RDFa      — vocab/prefix/about/resource/property/typeof/content/datatype.
- Microdata — itemscope/itemtype/itemprop/itemid trees (schema.org style).
- SVO       — deterministic rule-based subject–verb–object triples over the
              extracted text (no ML dependency: reproducibility first).

Pure Python, Spark-free: called batch-at-a-time from mapInPandas (see
trident_spark.pipeline.extract_stage).  One DOM parse (stdlib html.parser)
feeds all three structured extractors plus text extraction, so the invariant
"extracted text is byte-identical per url" is checked against the same tree.

Triples are emitted with IRIs resolved against the page base (honouring
``<base href>``) and normalized through the RFC 3987 kernel; blank nodes get
deterministic per-page labels (``_:b<N>``) and are skolemized later in pure
Spark SQL (url+warc_ts hash — see pipeline.kg).
"""

from __future__ import annotations

import json
import re
from html import unescape
from html.parser import HTMLParser
from typing import NamedTuple

from trident_spark.kernels import iri as K

__all__ = ["RawTriple", "extract_page", "extract_text", "parse_html"]

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
SCHEMA_ORG = "https://schema.org/"

# predicate namespace for rule-based open-text SVO triples
SVO_NS = "https://trident-spark.dev/svo/"

_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_NON_TEXT_TAGS = frozenset(("script", "style", "template", "noscript"))


class RawTriple(NamedTuple):
    subj: str  # IRI or _:bN
    pred: str  # IRI
    obj_lexical: str
    obj_kind: str  # 'iri' | 'literal' | 'blank'
    obj_datatype: str | None
    obj_lang: str | None
    source: str  # 'jsonld' | 'rdfa' | 'microdata' | 'svo'


# ---------------------------------------------------------------------------
# Minimal DOM
# ---------------------------------------------------------------------------


class Node:
    """Element node; ``children`` holds Nodes and raw text strings in
    document order, so text extraction preserves reading order."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict, parent: "Node | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Node | str] = []
        self.parent = parent

    def own_text(self) -> str:
        """Direct text content only (e.g. a <script> payload)."""
        return "".join(c for c in self.children if isinstance(c, str))

    def text(self) -> str:
        """Concatenated descendant text (excluding script/style)."""
        out: list[str] = []
        self._collect_text(out)
        return "".join(out)

    def _collect_text(self, out: list[str]) -> None:
        if self.tag in _NON_TEXT_TAGS:
            return
        # every element boundary separates words; the final text is
        # whitespace-normalized, so extra separators collapse
        out.append(" ")
        for ch in self.children:
            if isinstance(ch, str):
                out.append(ch)
            else:
                ch._collect_text(out)
        out.append(" ")

    def iter(self):
        yield self
        for ch in self.children:
            if not isinstance(ch, str):
                yield from ch.iter()


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#root", {}, None)
        self.cur = self.root

    def handle_starttag(self, tag, attrs):
        node = Node(tag, dict(attrs), self.cur)
        self.cur.children.append(node)
        if tag not in _VOID_TAGS:
            self.cur = node

    def handle_startendtag(self, tag, attrs):
        self.cur.children.append(Node(tag, dict(attrs), self.cur))

    def handle_endtag(self, tag):
        # close the nearest matching open ancestor (lenient recovery)
        n = self.cur
        while n is not self.root:
            if n.tag == tag:
                self.cur = n.parent
                return
            n = n.parent

    def handle_data(self, data):
        if data:
            self.cur.children.append(data)


def parse_html_ref(html: bytes | str) -> Node:
    """Reference tree builder on stdlib html.parser — the behavioral oracle
    for the fast path (tests/test_extract_kernel.py differential test)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    tb = _TreeBuilder()
    tb.feed(html)
    tb.close()
    return tb.root


# fast tokenizer: one compiled regex finds every markup construct; the text
# between matches is character data.  Mirrors html.parser's observable
# behavior for our Node tree (lowercased tags/attrs, unescaped values,
# script/style as raw text, comments/doctype/PIs dropped, bare '<' as text).
_MARKUP_RE = re.compile(
    r"""<(?:
        !--.*?(?:-->|$)                            # comment (or unterminated)
      | !\[CDATA\[.*?(?:\]\]>|$)                   # CDATA section
      | ![^>]*>?                                   # doctype / declaration
      | \?[^>]*>?                                  # processing instruction
      | /(?P<end>[a-zA-Z][^\t\n\r\f />]*)[^>]*>    # end tag (tolerant name)
      | /[^a-zA-Z>][^>]*>                          # bogus end tag → skipped
      | />                                         # bare '</>' → skipped
      | (?P<start>[a-zA-Z][^\t\n\r\f />]*)         # start tag (tolerant name)
        (?P<attrs>(?:"[^"]*"|'[^']*'|[^>])*)>      # attrs (quote-aware)
    )""",
    re.VERBOSE | re.DOTALL,
)

# html.parser's attrfind_tolerant, so attribute splitting on messy markup
# matches the reference tree builder
_ATTR_RE = re.compile(
    r"""((?<=['"\s/])[^\s/>][^\s/=>]*)
        (\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*))?""",
    re.VERBOSE,
)

_RAWTEXT_CLOSE = {
    "script": re.compile(r"</script[^>]*>", re.IGNORECASE),
    "style": re.compile(r"</style[^>]*>", re.IGNORECASE),
}


# attr strings repeat across a crawl (the same '<script type="...">',
# '<meta charset=...>' on every page) → memoize the parse.  The cached dict
# is shared between nodes; extraction code only reads attrs, never mutates.
_ATTRS_CACHE: dict[str, tuple[dict, bool]] = {}
_ATTRS_CACHE_MAX = 100_000


def _parse_attrs_cached(s: str) -> tuple[dict, bool]:
    hit = _ATTRS_CACHE.get(s)
    if hit is None:
        hit = _parse_attrs(s)
        if len(_ATTRS_CACHE) < _ATTRS_CACHE_MAX:
            _ATTRS_CACHE[s] = hit
    return hit


def _parse_attrs(s: str) -> tuple[dict, bool]:
    """→ (attrs, self_closing).  Self-closing means a '/' remains AFTER the
    last attribute — an unquoted value like href=http://x/ swallows its
    trailing slash exactly as html.parser's attrfind does."""
    attrs = {}
    last_end = 0
    for m in _ATTR_RE.finditer(s):
        name = m.group(1).lower()
        v = m.group(3)
        if m.group(2) is None:
            attrs[name] = None
        else:
            if v[:1] in "\"'":
                v = v[1:-1]
            attrs[name] = unescape(v) if "&" in v else v
        last_end = m.end()
    return attrs, s[last_end:].strip() == "/"


_MARKUP_GI = _MARKUP_RE.groupindex
_END_I, _START_I, _ATTRS_I = (_MARKUP_GI["end"], _MARKUP_GI["start"],
                              _MARKUP_GI["attrs"])


def parse_html(html: bytes | str, _collect: dict | None = None) -> Node:
    """Fast regex-tokenizer tree builder (~3× html.parser); behavior-
    equivalent to :func:`parse_html_ref`, enforced by a differential test
    over the synthetic corpora plus handwritten edge cases.

    ``_collect``, when given, receives {"script": [...], "base": [...]}
    node lists gathered during the build — saves extraction a full-tree
    traversal per interest."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    root = Node("#root", {}, None)
    cur = root
    pos, n = 0, len(html)
    search = _MARKUP_RE.search
    scripts = bases = None
    if _collect is not None:
        scripts = _collect.setdefault("script", [])
        bases = _collect.setdefault("base", [])
    while pos < n:
        m = search(html, pos)
        if m is None:
            data = html[pos:]
            if data:
                cur.children.append(unescape(data) if "&" in data else data)
            break
        start = m.start()
        if start > pos:
            data = html[pos:start]
            cur.children.append(unescape(data) if "&" in data else data)
        end = m.end()
        if end == n:
            tok = m.group(0)
            if tok[1] in "!?" and not (
                tok.endswith("-->") if tok.startswith("<!--")
                else tok.endswith("]]>") if tok.startswith("<![CDATA[")
                else tok.endswith(">")
            ):
                # unterminated comment/declaration/PI at EOF: html.parser
                # emits the raw tail as character data — match it
                cur.children.append(unescape(tok) if "&" in tok else tok)
                break
        pos = end
        end_tag, tag, raw_attrs = m.group(_END_I, _START_I, _ATTRS_I)
        if tag is not None:
            tag = tag.lower()
            if raw_attrs:
                attrs, self_closing = _parse_attrs_cached(raw_attrs)
            else:
                attrs, self_closing = {}, False
            node = Node(tag, attrs, cur)
            cur.children.append(node)
            if scripts is not None:
                if tag == "script":
                    scripts.append(node)
                elif tag == "base":
                    bases.append(node)
            if tag in _RAWTEXT_CLOSE and not self_closing:
                # CDATA content element: raw text until the literal close
                # tag; with no close tag html.parser DROPS the tail — match
                cm = _RAWTEXT_CLOSE[tag].search(html, pos)
                if cm:
                    if cm.start() > pos:
                        node.children.append(html[pos : cm.start()])
                    pos = cm.end()
                else:
                    pos = n
            elif tag not in _VOID_TAGS and not self_closing:
                cur = node
            continue
        if end_tag is not None:
            end_tag = end_tag.lower()
            nn = cur
            while nn is not root:
                if nn.tag == end_tag:
                    cur = nn.parent
                    break
                nn = nn.parent
        # comments / doctype / PI / CDATA: dropped
    return root


_WS_RE = re.compile(r"\s+")


def extract_text(root: Node) -> str:
    """Whitespace-normalized visible text of the page body."""
    return _WS_RE.sub(" ", root.text()).strip()


# ---------------------------------------------------------------------------
# Shared helpers
# ---------------------------------------------------------------------------


# absolute references normalize independently of the page base, and the same
# vocabulary/type IRIs repeat across every page → one process-wide cache
_ABS_IRI_CACHE: dict[str, str | None] = {}
_ABS_IRI_CACHE_MAX = 200_000
_SCHEME_PREFIX_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


# fast-path guards for relative resolution (see _Ctx.to_iri): pchar minus
# '%' (no pct-decoding can apply), pure ASCII (NFC/case-invariant), and no
# "." / ".." segments (remove_dot_segments is the identity) — under these,
# resolve+normalize collapse to string concatenation with a normalized base
_SAFE_REL_RE = re.compile(r"^[A-Za-z0-9\-._~/!$&'()*+,;=:@]+$")
_SAFE_TAIL_RE = re.compile(r"^[A-Za-z0-9\-._~/!$&'()*+,;=:@?#]+$")
_DOTSEG_RE = re.compile(r"(^|/)\.\.?(/|$)")
# an absolute IRI this regex matches is a fixpoint of normalize(): lowercase
# scheme, lowercase portless reg-name host, non-empty path of safe ASCII
# chars with no %-escapes (nothing to case-fold or decode), optional safe
# query — so the per-page base prefix/dir can be derived by string
# splitting without the normalize→parse→components round-trip.
# Differentially fuzzed vs the slow path in tests/test_extract_kernel.py.
_FAST_BASE_RE = re.compile(
    r"^(?P<scheme>[a-z][a-z0-9+.\-]*)://"
    r"(?P<auth>[a-z0-9\-._~]+)"
    r"(?P<path>/[A-Za-z0-9\-._~!$&'()*+,;=:@/]*)"
    r"(?:\?[A-Za-z0-9\-._~!$&'()*+,;=:@/?]*)?$")


class _Ctx:
    """Per-page extraction context: base resolution + blank-node labels."""

    def __init__(self, base_url: str):
        self.bnode_counter = 0
        self._norm_cache: dict[str, str | None] = {}
        try:
            self.base = K.parse_ref(base_url)
        except K.IRIError:
            self.base = None
        self._setup_fast()

    def _setup_fast(self) -> None:
        """Precompute the normalized scheme://authority prefix and base
        directory; None disables the to_iri fast path for this page."""
        self._fast_prefix: str | None = None
        self._fast_dir = "/"
        if self.base is None:
            return
        m = _FAST_BASE_RE.match(self.base.iri)
        if m is not None and "xn--" not in m.group("auth") \
                and not _DOTSEG_RE.search(m.group("path")):
            # (punycode labels excluded: normalize renders them as Unicode)
            # base is already in normalized form: split it directly —
            # skips a full normalize→parse→components round-trip per page
            self._fast_prefix = f"{m.group('scheme')}://{m.group('auth')}"
            path = m.group("path")
            self._fast_dir = path[: path.rfind("/") + 1]
            self._set_ancestors()
            return
        try:
            nb = K.normalize(self.base)
            c = K.components(K.parse_ref(nb))
        except K.IRIError:
            return
        path = c.path or ""
        if c.authority is None or _DOTSEG_RE.search(path):
            return
        self._fast_prefix = f"{c.scheme}://{c.authority}"
        self._fast_dir = path[: path.rfind("/") + 1] if "/" in path else "/"
        self._set_ancestors()

    def _set_ancestors(self) -> None:
        """Base-dir ancestor chain for leading-'../' refs: [dir, parent,
        ..., '/'] — '../'×k resolves to element min(k, len-1) (excess
        '..' at the root is dropped, RFC 3986 §5.2.4)."""
        d = self._fast_dir
        anc = [d]
        while d != "/":
            d = d[: d.rfind("/", 0, len(d) - 1) + 1]
            anc.append(d)
        self._fast_anc = anc

    def set_base(self, href: str) -> None:
        if self.base is not None:
            try:
                self.base = K.resolve(self.base, href)
            except K.IRIError:
                pass
            self._setup_fast()

    def new_bnode(self) -> str:
        self.bnode_counter += 1
        return f"_:b{self.bnode_counter}"

    def to_iri(self, ref: str) -> str | None:
        """Resolve against page base + normalize; None if invalid."""
        if _SCHEME_PREFIX_RE.match(ref):
            # absolute: result is base-independent → process-wide cache
            hit = _ABS_IRI_CACHE.get(ref, "")
            if hit != "":
                return hit
            try:
                value = K.normalize(ref)  # string fast path inside
            except K.IRIError:
                value = None
            if len(_ABS_IRI_CACHE) < _ABS_IRI_CACHE_MAX:
                _ABS_IRI_CACHE[ref] = value
            return value
        hit = self._norm_cache.get(ref, "")
        if hit != "":
            return hit
        # fast path (differentially fuzzed vs the slow path below in
        # tests/test_extract_kernel.py::test_to_iri_fast_path_matches_slow):
        # safe-ASCII ref, no pct-escapes, no dot segments, base normalized →
        # resolve+normalize is concatenation.  A ':' before the first '/'
        # of a path-relative ref would be the ambiguous scheme-like form
        # parse_ref rejects, so those fall through to the slow path.
        # A safe query/fragment tail rides along verbatim (normalize never
        # touches %-free safe-ASCII query/fragment chars); refs with an
        # EMPTY path ("?q", "#f") resolve against the base's full path,
        # not its directory, so they take the slow path.
        if self._fast_prefix is not None:
            cut = len(ref)
            q = ref.find("?")
            h = ref.find("#")
            if q >= 0:
                cut = q
            if 0 <= h < cut:
                cut = h
            path_part, tail = ref[:cut], ref[cut:]
            if (path_part
                    and "//" not in path_part  # parse_ref rejects these
                    and _SAFE_REL_RE.match(path_part)
                    and (not tail or (_SAFE_TAIL_RE.match(tail)
                                      and tail.count("#") <= 1))):
                # leading '../' segments climb the precomputed ancestor
                # chain; any OTHER dot segment still takes the slow path
                rel, up = path_part, 0
                while rel.startswith("../"):
                    up += 1
                    rel = rel[3:]
                if not _DOTSEG_RE.search(rel) and rel != "..":
                    # "//host/x" is a network-path reference (new
                    # authority) — only single-slash path-absolute refs
                    # take the shortcut
                    if up == 0:
                        if path_part.startswith("/"):
                            value = self._fast_prefix + ref
                            self._norm_cache[ref] = value
                            return value
                        if ":" not in path_part:
                            value = (self._fast_prefix + self._fast_dir
                                     + ref)
                            self._norm_cache[ref] = value
                            return value
                    elif ":" not in rel:
                        anc = self._fast_anc
                        base_dir = anc[min(up, len(anc) - 1)]
                        value = (self._fast_prefix + base_dir + rel + tail)
                        self._norm_cache[ref] = value
                        return value
        try:
            if self.base is not None:
                resolved = K.resolve(self.base, ref).iri
            else:
                resolved = K.parse_iri(ref).iri
            value = K.normalize(resolved)
        except K.IRIError:
            value = None
        self._norm_cache[ref] = value
        return value


def _expand_term(term: str, vocab: str | None, prefixes: dict[str, str],
                 ctx: _Ctx, term_defs: bool = True) -> str | None:
    """Expand a JSON-LD/RDFa term: exact term definition → its @id,
    CURIE → IRI, bare term → vocab IRI (that precedence order is JSON-LD's
    IRI-expansion algorithm: a matching term definition wins even over a
    CURIE reading).  ``term_defs=False`` for RDFa callers: RDFa resolves
    bare tokens via vocab, never via prefix mappings — a @property token
    that happens to equal a declared prefix name must not expand to the
    namespace IRI."""
    if not term or term.startswith("@"):
        return None
    if term_defs:
        mapped = prefixes.get(term)
        if mapped is not None and not mapped.startswith("@"):
            return ctx.to_iri(mapped)
    if ":" in term:
        pfx, _, local = term.partition(":")
        if pfx in prefixes:
            return ctx.to_iri(prefixes[pfx] + local)
        if "//" in term or pfx in ("http", "https", "urn", "mailto", "ftp"):
            return ctx.to_iri(term)
        # unknown prefix: fall through to vocab
    if vocab:
        return ctx.to_iri(vocab + term)
    return None


def _literal_of(value) -> tuple[str, str | None]:
    """Map a JSON scalar to (lexical, datatype)."""
    if isinstance(value, bool):
        return ("true" if value else "false", XSD_BOOLEAN)
    if isinstance(value, int):
        return (str(value), XSD_INTEGER)
    if isinstance(value, float):
        return (repr(value), XSD_DOUBLE)
    return (str(value), None)  # plain string literal (xsd:string implied)


# ---------------------------------------------------------------------------
# JSON-LD
# ---------------------------------------------------------------------------


def _jsonld_context(ctx_value, vocab: str | None, prefixes: dict[str, str],
                    coerce: frozenset[str] = frozenset()):
    """Fold a @context value into (vocab, prefixes, coerce); pragmatic subset.

    ``coerce`` collects terms declared ``"@type": "@id"`` — their string
    values are IRIs, not literals (expanded term definitions are also folded
    into ``prefixes`` as exact-term aliases).
    """
    prefixes = dict(prefixes)
    coerce = set(coerce)
    if isinstance(ctx_value, str):
        from trident_spark.contexts import vendored_context

        doc = vendored_context(ctx_value)
        if doc is not None:
            # well-known remote context → the vendored document (package
            # data, like the IANA registry): @vocab + @id coercions
            return _jsonld_context(doc, vocab, prefixes, frozenset(coerce))
        # unknown remote context: guess @vocab from the URL (pragmatic
        # fallback — better than dropping every term)
        vocab = ctx_value.rstrip("/#") + "/"
    elif isinstance(ctx_value, dict):
        for k, v in ctx_value.items():
            if k == "@vocab" and isinstance(v, str):
                vocab = v
            elif isinstance(v, str) and not k.startswith("@"):
                prefixes[k] = v
            elif isinstance(v, dict) and not k.startswith("@"):
                # expanded term definition: {"@id": ..., "@type": "@id"}
                vid = v.get("@id")
                if isinstance(vid, str):
                    prefixes[k] = vid  # exact-term alias (resolved on use)
                if v.get("@type") == "@id":
                    coerce.add(k)
    elif isinstance(ctx_value, list):
        for item in ctx_value:
            vocab, prefixes, coerce = _jsonld_context(item, vocab, prefixes,
                                                      frozenset(coerce))
            coerce = set(coerce)
    return vocab, prefixes, frozenset(coerce)


# JSON-LD 1.1 keywords a context may alias ("id": "@id" etc.); @context
# itself is not aliasable per the spec
_JSONLD_ALIASABLE = frozenset(
    ("@id", "@type", "@value", "@language", "@list", "@set", "@graph"))


def _unalias(node: dict, prefixes: dict[str, str]) -> dict:
    """Rewrite JSON-LD 1.1 keyword-aliased keys ("id" → "@id", "type" →
    "@type", …) to the canonical keyword; an explicit keyword already in
    the node wins over its alias."""
    out = None
    for k in list(node):
        kw = prefixes.get(k)
        if kw in _JSONLD_ALIASABLE and kw not in node:
            if out is None:
                out = dict(node)
            out[kw] = out.pop(k)
    return node if out is None else out


def _jsonld_node(node: dict, ctx: _Ctx, vocab, prefixes,
                 out: list[RawTriple],
                 coerce: frozenset[str] = frozenset()) -> tuple[str, str] | None:
    """Emit triples for one JSON-LD node; return (id, kind) of the node."""
    if "@context" in node:
        vocab, prefixes, coerce = _jsonld_context(node["@context"], vocab,
                                                  prefixes, coerce)
    node = _unalias(node, prefixes)

    if "@value" in node:
        return None  # value object — handled by caller

    if "@graph" in node:
        for item in _as_list(node["@graph"]):
            if isinstance(item, dict):
                _jsonld_node(item, ctx, vocab, prefixes, out, coerce)
        if len(node) <= 2:  # only @context/@graph
            return None

    node_id = node.get("@id")
    if isinstance(node_id, str) and not node_id.startswith("_:"):
        subj = ctx.to_iri(node_id)
        kind = "iri"
        if subj is None:
            subj, kind = ctx.new_bnode(), "blank"
    elif isinstance(node_id, str):
        subj, kind = node_id, "blank"
    else:
        subj, kind = ctx.new_bnode(), "blank"

    for t in _as_list(node.get("@type")):
        if isinstance(t, str):
            t_iri = _expand_term(t, vocab, prefixes, ctx)
            if t_iri:
                out.append(RawTriple(subj, RDF_TYPE, t_iri, "iri", None, None, "jsonld"))

    for key, raw in node.items():
        if key.startswith("@"):
            continue
        pred = _expand_term(key, vocab, prefixes, ctx)
        if pred is None:
            continue
        for value in _as_list(raw):
            _jsonld_value(subj, pred, value, ctx, vocab, prefixes, out,
                          as_id=key in coerce, coerce=coerce)
    return subj, kind


def _jsonld_value(subj, pred, value, ctx, vocab, prefixes, out,
                  as_id: bool = False,
                  coerce: frozenset[str] = frozenset()) -> None:
    if isinstance(value, dict):
        value = _unalias(value, prefixes)
        if "@list" in value or "@set" in value:
            for item in _as_list(value.get("@list", value.get("@set"))):
                _jsonld_value(subj, pred, item, ctx, vocab, prefixes, out,
                              as_id, coerce)
            return
        if "@value" in value:
            lex, dt = _literal_of(value["@value"])
            vdt = value.get("@type")
            if isinstance(vdt, str):
                dt = _expand_term(vdt, vocab, prefixes, ctx) or dt
            lang = value.get("@language")
            lang = lang if isinstance(lang, str) else None
            # JSON-LD 1.1 @direction → RDF 1.2 base direction, carried as
            # the `tag--dir` lang form (the N-Triples 1.2 surface syntax);
            # @direction without @language has no dirLangString mapping
            # and is ignored, per the JSON-LD→RDF 1.2 rules
            direction = value.get("@direction")
            if lang and direction in ("ltr", "rtl"):
                lang = f"{lang}--{direction}"
            out.append(RawTriple(subj, pred, lex, "literal", dt,
                                 lang, "jsonld"))
            return
        ref = _jsonld_node(value, ctx, vocab, prefixes, out, coerce)
        if ref is not None:
            oid, okind = ref
            out.append(RawTriple(subj, pred, oid, okind, None, None, "jsonld"))
        return
    if isinstance(value, str):
        if as_id:  # term declared "@type": "@id" in the context → IRI object
            o = None
            if ":" in value:  # CURIE via a declared prefix wins
                pfx, _, local = value.partition(":")
                if pfx in prefixes:
                    o = ctx.to_iri(prefixes[pfx] + local)
            if o is None:
                o = ctx.to_iri(value)
            if o is not None:
                out.append(RawTriple(subj, pred, o, "iri", None, None, "jsonld"))
                return
        out.append(RawTriple(subj, pred, value, "literal", None, None, "jsonld"))
        return
    if value is None:
        return
    lex, dt = _literal_of(value)
    out.append(RawTriple(subj, pred, lex, "literal", dt, None, "jsonld"))


def _as_list(v):
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _extract_jsonld(root: Node, ctx: _Ctx, out: list[RawTriple],
                    script_nodes: list[Node] | None = None) -> None:
    nodes = script_nodes if script_nodes is not None else root.iter()
    for node in nodes:
        if (
            node.tag == "script"
            and node.attrs.get("type", "").strip().lower() == "application/ld+json"
        ):
            payload = node.own_text().strip()
            if not payload:
                continue
            try:
                data = json.loads(payload)
            except (json.JSONDecodeError, ValueError):
                continue
            for item in _as_list(data):
                if isinstance(item, dict):
                    _jsonld_node(item, ctx, SCHEMA_ORG, {}, out)


# ---------------------------------------------------------------------------
# RDFa (pragmatic subset: RDFa Lite)
# ---------------------------------------------------------------------------

_DEFAULT_PREFIXES = {
    "schema": SCHEMA_ORG,
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": XSD,
    "foaf": "http://xmlns.com/foaf/0.1/",
    "dc": "http://purl.org/dc/terms/",
    "og": "https://ogp.me/ns#",
}


def _parse_prefix_attr(s: str, prefixes: dict) -> dict:
    prefixes = dict(prefixes)
    toks = s.split()
    for i in range(0, len(toks) - 1, 2):
        if toks[i].endswith(":"):
            prefixes[toks[i][:-1]] = toks[i + 1]
    return prefixes


def _rdfa_walk(node: Node, subj: str | None, vocab: str | None,
               prefixes: dict, ctx: _Ctx, out: list[RawTriple],
               subj_kind: str) -> None:
    a = node.attrs
    if "vocab" in a and a["vocab"]:
        vocab = a["vocab"]
    if "prefix" in a and a["prefix"]:
        prefixes = _parse_prefix_attr(a["prefix"], prefixes)

    new_subj, new_kind = subj, subj_kind
    if "about" in a:
        s = ctx.to_iri(a["about"])
        if s is not None:
            new_subj, new_kind = s, "iri"

    typeof = a.get("typeof")
    prop = a.get("property")

    if typeof and "about" not in a and prop is None:
        # typeof without about mints a new subject (blank or from resource)
        if "resource" in a:
            r = ctx.to_iri(a["resource"])
            new_subj, new_kind = (r, "iri") if r else (ctx.new_bnode(), "blank")
        else:
            new_subj, new_kind = ctx.new_bnode(), "blank"

    if typeof and new_subj is not None:
        for t in typeof.split():
            t_iri = _expand_term(t, vocab, prefixes, ctx, term_defs=False)
            if t_iri:
                out.append(RawTriple(new_subj, RDF_TYPE, t_iri, "iri", None, None, "rdfa"))

    # RDFa: @about on the element sets the subject of its own @property
    # triples; without @about, @property attaches to the inherited subject
    prop_subj = new_subj if "about" in a else subj
    if prop and prop_subj is not None:
        for p in prop.split():
            pred = _expand_term(p, vocab, prefixes, ctx, term_defs=False)
            if pred is None:
                continue
            if typeof and "about" not in a:
                # property + typeof: object is the newly minted node
                out.append(RawTriple(subj, pred, new_subj, new_kind, None, None, "rdfa"))
            elif "resource" in a or "href" in a or "src" in a:
                ref = a.get("resource") or a.get("href") or a.get("src")
                o = ctx.to_iri(ref) if ref else None
                if o is not None:
                    out.append(RawTriple(prop_subj, pred, o, "iri", None, None, "rdfa"))
            else:
                content = a.get("content")
                lex = content if content is not None else _WS_RE.sub(" ", node.text()).strip()
                dt = None
                if a.get("datatype"):
                    dt = _expand_term(a["datatype"], vocab, prefixes, ctx,
                                      term_defs=False)
                lang = a.get("lang") or a.get("xml:lang")
                out.append(RawTriple(prop_subj, pred, lex, "literal", dt, lang, "rdfa"))

    # RDFa link relations: @rel emits (subject, rel, target); @rev the inverse.
    # Only CURIEs / absolute terms count (bare HTML rel values like
    # "stylesheet" have no vocab mapping in RDFa Lite usage and are skipped
    # unless a @vocab is active).
    target_ref = a.get("resource") or a.get("href") or a.get("src")
    if target_ref and (a.get("rel") or a.get("rev")):
        target = ctx.to_iri(target_ref)
        rel_subj = new_subj if "about" in a else subj
        if target is not None and rel_subj is not None:
            for r in (a.get("rel") or "").split():
                p = _expand_term(r, vocab, prefixes, ctx, term_defs=False)
                if p:
                    out.append(RawTriple(rel_subj, p, target, "iri", None, None, "rdfa"))
            for r in (a.get("rev") or "").split():
                p = _expand_term(r, vocab, prefixes, ctx, term_defs=False)
                if p:
                    out.append(RawTriple(target, p, rel_subj, "iri", None, None, "rdfa"))

    for ch in node.children:
        if not isinstance(ch, str):
            _rdfa_walk(ch, new_subj, vocab, prefixes, ctx, out, new_kind)


def _extract_rdfa(root: Node, ctx: _Ctx, base_subj: str | None,
                  out: list[RawTriple]) -> None:
    _rdfa_walk(root, base_subj, None, _DEFAULT_PREFIXES, ctx, out, "iri")


# ---------------------------------------------------------------------------
# Microdata
# ---------------------------------------------------------------------------


def _microdata_value(node: Node, ctx: _Ctx) -> tuple[str, str, str | None]:
    """(lexical, kind, datatype) for an itemprop element without itemscope."""
    a = node.attrs
    tag = node.tag
    if tag in ("a", "area", "link") and a.get("href"):
        o = ctx.to_iri(a["href"])
        if o:
            return o, "iri", None
    if tag in ("img", "audio", "video", "embed", "iframe", "source", "track") and a.get("src"):
        o = ctx.to_iri(a["src"])
        if o:
            return o, "iri", None
    if tag == "meta" and a.get("content") is not None:
        return a["content"], "literal", None
    if tag in ("data", "meter") and a.get("value") is not None:
        return a["value"], "literal", None
    if tag == "time" and a.get("datetime"):
        return a["datetime"], "literal", XSD + "dateTime"
    if a.get("content") is not None:
        return a["content"], "literal", None
    return _WS_RE.sub(" ", node.text()).strip(), "literal", None


def _microdata_item(node: Node, ctx: _Ctx, out: list[RawTriple]) -> tuple[str, str]:
    a = node.attrs
    itemid = a.get("itemid")
    if itemid:
        s = ctx.to_iri(itemid)
        subj, kind = (s, "iri") if s else (ctx.new_bnode(), "blank")
    else:
        subj, kind = ctx.new_bnode(), "blank"

    itemtype = a.get("itemtype", "")
    vocab = SCHEMA_ORG
    for t in itemtype.split():
        t_iri = ctx.to_iri(t)
        if t_iri:
            out.append(RawTriple(subj, RDF_TYPE, t_iri, "iri", None, None, "microdata"))
            vocab = t_iri.rsplit("/", 1)[0] + "/"

    def walk(n: Node) -> None:
        for ch in n.children:
            if isinstance(ch, str):
                continue
            cha = ch.attrs
            if "itemprop" in cha:
                for prop in cha["itemprop"].split():
                    pred = ctx.to_iri(prop) if ":" in prop and "//" in prop else (
                        ctx.to_iri(vocab + prop)
                    )
                    if pred is None:
                        continue
                    if "itemscope" in cha:
                        osubj, okind = _microdata_item(ch, ctx, out)
                        out.append(RawTriple(subj, pred, osubj, okind, None, None, "microdata"))
                    else:
                        lex, okind, dt = _microdata_value(ch, ctx)
                        if lex:
                            out.append(RawTriple(subj, pred, lex, okind, dt, None, "microdata"))
            if "itemscope" in cha:
                if "itemprop" not in cha:
                    # an independent item nested inside this one: extract it
                    # as its own top-level item (no property edge to us)
                    _microdata_item(ch, ctx, out)
                # either way, don't walk into another item's scope
                continue
            walk(ch)

    walk(node)
    return subj, kind


def _extract_microdata(root: Node, ctx: _Ctx, out: list[RawTriple]) -> None:
    def find_top(n: Node) -> None:
        for ch in n.children:
            if isinstance(ch, str):
                continue
            if "itemscope" in ch.attrs and "itemprop" not in ch.attrs:
                _microdata_item(ch, ctx, out)
            else:
                find_top(ch)

    find_top(root)


# ---------------------------------------------------------------------------
# Open-text SVO (deterministic rule-based chunker)
# ---------------------------------------------------------------------------

_SVO_PATTERNS = [
    # "X is a Y" / "X was an Y" → is_a
    (re.compile(
        r"\b([A-Z][A-Za-z0-9'’\-]*(?: [A-Z][A-Za-z0-9'’\-]*){0,4}) "
        r"(?:is|was|are|were) (?:a|an|the) "
        r"([a-z][a-z \-]{2,40}?)(?=[.,;:]| and | that | which | who )"),
     SVO_NS + "is_a"),
    # "X works for Y" / "X worked at Y"
    (re.compile(
        r"\b([A-Z][A-Za-z0-9'’\-]*(?: [A-Z][A-Za-z0-9'’\-]*){0,4}) "
        r"(?:works?|worked) (?:for|at) "
        r"([A-Z][A-Za-z0-9'’\-]*(?: [A-Z][A-Za-z0-9'’\-]*){0,4})"),
     SVO_NS + "works_for"),
    # "X was born in Y"
    (re.compile(
        r"\b([A-Z][A-Za-z0-9'’\-]*(?: [A-Z][A-Za-z0-9'’\-]*){0,4}) "
        r"was born in "
        r"([A-Z][A-Za-z0-9'’\-]*(?: [A-Z][A-Za-z0-9'’\-]*){0,4})"),
     SVO_NS + "born_in"),
    # "X is located in Y" / "X is based in Y"
    (re.compile(
        r"\b([A-Z][A-Za-z0-9'’\-]*(?: [A-Z][A-Za-z0-9'’\-]*){0,4}) "
        r"(?:is|was) (?:located|based|headquartered) in "
        r"([A-Z][A-Za-z0-9'’\-]*(?: [A-Z][A-Za-z0-9'’\-]*){0,4})"),
     SVO_NS + "located_in"),
]


def extract_svo(text: str) -> list[tuple[str, str, str]]:
    """Deterministic (subject, predicate, object) mentions from plain text.

    One independent pass per pattern (overlapping matches across patterns
    are allowed — a combined single-scan alternation would consume spans
    and silently drop cross-pattern overlaps)."""
    found = []
    for pattern, pred in _SVO_PATTERNS:
        for m in pattern.finditer(text):
            found.append((m.group(1).strip(), pred, m.group(2).strip()))
    return found


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def extract_page(
    html: bytes | str,
    url: str,
    do_jsonld: bool = True,
    do_rdfa: bool = True,
    do_microdata: bool = True,
    do_svo: bool = True,
) -> tuple[list[RawTriple], str, str | None]:
    """Extract all candidate triples from one page.

    Returns (triples, extracted_text, error).  Never raises: a malformed page
    yields ([], "", message).
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    collected: dict = {}
    try:
        root = parse_html(html, _collect=collected)
    except Exception as e:  # noqa: BLE001 — defensive: parser edge cases
        return [], "", f"html parse error: {e}"

    ctx = _Ctx(url)
    # honour <base href> — base nodes were collected during the parse
    for node in collected["base"]:
        if node.attrs.get("href"):
            ctx.set_base(node.attrs["href"])
            break

    page_subj = ctx.to_iri("") if ctx.base is not None else None

    out: list[RawTriple] = []
    # per-extractor byte prefilters: a page with no marker substring cannot
    # produce triples for that extractor, so skip its full-tree walk
    if do_jsonld and "ld+json" in html:
        _extract_jsonld(root, ctx, out, collected["script"])
    if do_rdfa and ("typeof" in html or "property" in html or "about" in html
                    or "vocab" in html):
        _extract_rdfa(root, ctx, page_subj, out)
    if do_microdata and "itemscope" in html:
        _extract_microdata(root, ctx, out)

    text = extract_text(root)
    if do_svo and text:
        for s, p, o in extract_svo(text):
            out.append(RawTriple(
                SVO_NS + "mention/" + _mention_slug(s), p, o, "literal",
                None, None, "svo"))

    return out, text, None


_SLUG_RE = re.compile(r"[^a-z0-9]+")


def _mention_slug(s: str) -> str:
    return _SLUG_RE.sub("-", s.lower()).strip("-")
