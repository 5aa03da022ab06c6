"""RFC 3987 / RFC 3986 IRI kernel — pure Python, batch-oriented.

This module implements the per-row semantics of the reference's ``iri``
package (jplu/trident) as plain Python functions, re-derived from the RFCs:

- parse / validate an IRI reference       (ref: iri/iri_parser.go:47-388)
- resolve a relative reference            (ref: iri/resolve.go, RFC 3986 §5.2)
- syntax normalization                    (ref: iri/iri.go:276-330, RFC 3986 §6.2)
- IRI → URI and URI → IRI conversion      (ref: iri/iri.go:125-269, RFC 3987 §3.1/3.2)
- relativization                          (ref: iri/relativize.go)

Everything here is deliberately free of Spark imports so the functions can be
called inside Arrow-batched pandas UDFs (see trident_spark.functions.iri_funcs)
without per-row serialization overhead.  The conformance oracle is the
reference's golden test vectors (iri/iri_test.go), re-expressed in
tests/test_iri_kernel.py and tests/test_iri_spark.py.
"""

from __future__ import annotations

import ipaddress
import re
import unicodedata
from typing import NamedTuple

__all__ = [
    "IRIError",
    "Components",
    "ParsedRef",
    "parse_ref",
    "parse_iri",
    "resolve",
    "normalize",
    "relativize",
    "iri_to_uri",
    "uri_to_iri",
    "remove_dot_segments",
    "components",
]


class IRIError(ValueError):
    """Raised when a string is not a valid IRI reference."""


# ---------------------------------------------------------------------------
# Character classes (RFC 3986 §2 / RFC 3987 §2.2)
# ---------------------------------------------------------------------------

_SUB_DELIMS_EXTRA = "!$&'()*+,-.;=_~"
_UNRESERVED_MARKS = "-._~"
# US-ASCII chars a lenient IRI parser MAY accept and percent-encode
# (RFC 3987 §3.1; '#', '%', '[', ']' are excluded).
_LAX_ASCII = set('<>" {}|\\^`')

_FORBIDDEN_BIDI = {"‎", "‏", "‪", "‫", "‬", "‭", "‮"}

_UCSCHAR_RANGES = (
    (0x00A0, 0xD7FF),
    (0xF900, 0xFDCF),
    (0xFDF0, 0xFFEF),
    (0x10000, 0x1FFFD),
    (0x20000, 0x2FFFD),
    (0x30000, 0x3FFFD),
    (0x40000, 0x4FFFD),
    (0x50000, 0x5FFFD),
    (0x60000, 0x6FFFD),
    (0x70000, 0x7FFFD),
    (0x80000, 0x8FFFD),
    (0x90000, 0x9FFFD),
    (0xA0000, 0xAFFFD),
    (0xB0000, 0xBFFFD),
    (0xC0000, 0xCFFFD),
    (0xD0000, 0xDFFFD),
    (0xE1000, 0xEFFFD),
)

_IPRIVATE_RANGES = ((0xE000, 0xF8FF), (0xF0000, 0xFFFFD), (0x100000, 0x10FFFD))

_HEX = set("0123456789abcdefABCDEF")


def _is_unreserved(c: str) -> bool:
    return c.isascii() and (c.isalnum() or c in _UNRESERVED_MARKS)


def _is_unreserved_or_sub_delims(c: str) -> bool:
    return c.isascii() and (c.isalnum() or c in _SUB_DELIMS_EXTRA)


def _is_iunreserved_or_sub_delims(c: str) -> bool:
    if c in _FORBIDDEN_BIDI:
        return False
    if c.isascii():
        return c.isalnum() or c in _SUB_DELIMS_EXTRA
    cp = ord(c)
    for lo, hi in _UCSCHAR_RANGES:
        if lo <= cp <= hi:
            return True
    return False


def _is_path_char(c: str) -> bool:
    return _is_iunreserved_or_sub_delims(c) or c in ":@/"


def _is_query_char(c: str) -> bool:
    if _is_iunreserved_or_sub_delims(c) or c in ":@/?":
        return True
    cp = ord(c)
    for lo, hi in _IPRIVATE_RANGES:
        if lo <= cp <= hi:
            return True
    return False


def _is_fragment_char(c: str) -> bool:
    return _is_iunreserved_or_sub_delims(c) or c in ":@/?"


# ---------------------------------------------------------------------------
# Bidi validation (RFC 3987 §4.2; ref iri/bidi.go)
# ---------------------------------------------------------------------------

_RTL_CLASSES = ("R", "AL")


def _validate_bidi_component(component: str) -> None:
    if not component:
        return
    has_ltr = has_rtl = False
    for ch in component:
        cls = unicodedata.bidirectional(ch)
        if cls in _RTL_CLASSES:
            has_rtl = True
        elif cls == "L":
            has_ltr = True
    if has_ltr and has_rtl:
        raise IRIError(
            "Invalid IRI component: mixed left-to-right and right-to-left characters"
        )
    if has_rtl:
        if (
            unicodedata.bidirectional(component[0]) not in _RTL_CLASSES
            or unicodedata.bidirectional(component[-1]) not in _RTL_CLASSES
        ):
            raise IRIError(
                "Invalid IRI component: right-to-left parts must start and end "
                "with right-to-left characters"
            )


def _validate_bidi_host(host: str) -> None:
    # Bidi rules do not apply to IP literals; hostnames are checked per label.
    if host.startswith("[") and host.endswith("]"):
        return
    for label in host.split("."):
        _validate_bidi_component(label)


# ---------------------------------------------------------------------------
# Percent-encoding helpers (ref iri/encoding.go)
# ---------------------------------------------------------------------------


def _pct_encode_char(c: str) -> str:
    return "".join(f"%{b:02X}" for b in c.encode("utf-8"))


def _consume_component(s: str, allowed, out: list[str]) -> None:
    """Validate + render one component: handles %XX sequences and the
    lenient percent-encoding of lax ASCII (RFC 3987 §3.1 MAY-rule)."""
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%":
            if i + 2 > n - 1:
                raise IRIError(f"Invalid IRI percent encoding: {s[i:]}")
            c1, c2 = s[i + 1], s[i + 2]
            if c1 not in _HEX or c2 not in _HEX:
                raise IRIError(f"Invalid IRI percent encoding: %{c1}{c2}")
            out.append(s[i : i + 3])
            i += 3
            continue
        if allowed(c):
            out.append(c)
        elif c in _LAX_ASCII:
            out.append(_pct_encode_char(c))
        else:
            raise IRIError(f"Invalid IRI character: {c!r}")
        i += 1


# ---------------------------------------------------------------------------
# Authority handling (ref iri/autority.go)
# ---------------------------------------------------------------------------


def split_authority(authority: str) -> tuple[str, str, str]:
    """Split an authority into (userinfo, host, port).

    userinfo ends at the *last* '@'; a bracketed IPv6/IPvFuture host keeps its
    brackets; the port is everything after the last ':' following the host.
    """
    userinfo = ""
    hostport = authority
    at = authority.rfind("@")
    if at != -1:
        userinfo = authority[:at]
        hostport = authority[at + 1 :]

    if hostport.startswith("["):
        rb = hostport.rfind("]")
        if rb == -1:
            return userinfo, hostport, ""
        host = hostport[: rb + 1]
        port = hostport[rb + 2 :] if hostport[rb + 1 : rb + 2] == ":" else ""
        return userinfo, host, port

    colon = hostport.rfind(":")
    if colon != -1:
        return userinfo, hostport[:colon], hostport[colon + 1 :]
    return userinfo, hostport, ""


def _validate_ip_literal(ip_literal: str) -> None:
    if ip_literal[:1] in ("v", "V"):
        body = ip_literal[1:]
        parts = body.split(".", 1)
        if len(parts) != 2:
            raise IRIError(f"Invalid IPvFuture format: no dot separator: {ip_literal}")
        version, address = parts
        if not version or any(c not in _HEX for c in version):
            raise IRIError(f"Invalid IPvFuture version: {ip_literal}")
        if not address or any(
            not (_is_unreserved_or_sub_delims(c) or c == ":") for c in address
        ):
            raise IRIError(f"Invalid IPvFuture address: {ip_literal}")
        return
    try:
        ipaddress.ip_address(ip_literal)
    except ValueError as exc:
        raise IRIError(f"Invalid host IP: {ip_literal}") from exc


def _render_authority(authority: str, out: list[str]) -> None:
    """Validate and render userinfo@host:port into *out*."""
    userinfo, host, port = split_authority(authority)

    if userinfo:
        _validate_bidi_component(userinfo)
        _consume_component(
            userinfo, lambda c: _is_iunreserved_or_sub_delims(c) or c == ":", out
        )
        out.append("@")

    if host:
        if host.startswith("["):
            if not host.endswith("]"):
                raise IRIError(f"Invalid host IP: unterminated IP literal: {host}")
            _validate_ip_literal(host[1:-1])
        else:
            _validate_bidi_host(host)
        i, n = 0, len(host)
        while i < n:
            c = host[i]
            if c == "%":
                if i + 2 >= n or host[i + 1] not in _HEX or host[i + 2] not in _HEX:
                    raise IRIError(f"Invalid IRI percent encoding: {host[i:i+3]}")
                out.append(host[i : i + 3])
                i += 3
                continue
            if not (_is_iunreserved_or_sub_delims(c) or c in "[]:"):
                raise IRIError(f"Invalid character in host: {c!r}")
            out.append(c)
            i += 1

    if port:
        if not port.isascii() or not port.isdigit():
            raise IRIError(f"Invalid port character in: {port!r}")
        out.append(":")
        out.append(port)


# ---------------------------------------------------------------------------
# Core parser (ref iri/iri_parser.go)
# ---------------------------------------------------------------------------


class Positions(NamedTuple):
    scheme_end: int  # index just past "scheme:" (0 → no scheme)
    authority_end: int  # index just past authority (== scheme_end → none)
    path_end: int
    query_end: int


class ParsedRef(NamedTuple):
    iri: str  # rendered IRI (lax ASCII chars percent-encoded)
    pos: Positions


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*$")

# Fast path: an entirely-safe ASCII IRI reference (no %, no lax chars, no
# bidi) whose components can be located by simple splitting — skips the
# per-character validation walk.  Hot web URLs overwhelmingly match this.
_FAST_SAFE = re.compile(
    r"^(?:(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*):)?"
    r"(?P<auth>//(?:[A-Za-z0-9._~!$&'()*+,;=\-]+@)?"  # empty userinfo: slow path
    r"[A-Za-z0-9._~!$&'()*+,;=\-]*(?::[0-9]+)?)?"  # empty port: slow path
    r"(?P<path>[A-Za-z0-9._~!$&'()*+,;=:@/\-]*)"
    r"(?:\?(?P<query>[A-Za-z0-9._~!$&'()*+,;=:@/?\-]*))?"
    r"(?:#(?P<frag>[A-Za-z0-9._~!$&'()*+,;=:@/?\-]*))?$"
)


def _fast_parse(s: str) -> ParsedRef | None:
    m = _FAST_SAFE.match(s)
    if m is None:
        return None
    scheme, auth, path = m.group("scheme"), m.group("auth"), m.group("path")
    query, frag = m.group("query"), m.group("frag")
    if auth is not None and path and not path.startswith("/"):
        # the regex can split a malformed authority (bad port, stray '@')
        # so that its tail spills into the path — e.g. "http://host:abc/"
        # → auth "//host:", path "abc/".  A real path after an authority
        # always starts with '/', so punt these to the validating parser.
        return None
    if scheme is None:
        # relative: first segment must not contain ':' (RFC 3986 §4.2)
        if auth is None and ":" in path.split("/", 1)[0]:
            return None
    if auth is None and "//" in path:
        return None
    if auth is None and scheme is not None and path.startswith("//"):
        return None
    scheme_end = len(scheme) + 1 if scheme else 0
    authority_end = scheme_end + len(auth) if auth else scheme_end
    path_end = authority_end + len(path)
    query_end = path_end + 1 + len(query) if query is not None else path_end
    return ParsedRef(s, Positions(scheme_end, authority_end, path_end, query_end))


def _split_at(s: str, chars: str) -> tuple[str, str]:
    """Split s at the first occurrence of any char in *chars* → (head, rest)."""
    for i, c in enumerate(s):
        if c in chars:
            return s[:i], s[i:]
    return s, ""


def _render_path(path: str, has_authority: bool, first_seg_no_colon: bool,
                 out: list[str]) -> None:
    """Validate and render a path; per-segment bidi checks."""
    # error precedence mirrors a left-to-right scan: whichever offending
    # character appears first in the string wins
    dslash = path.find("//") if not has_authority else -1
    colon = -1
    if first_seg_no_colon:
        first_seg, _, _ = path.partition("/")
        colon = first_seg.find(":")
    if colon != -1 and (dslash == -1 or colon < dslash):
        raise IRIError("Invalid IRI character in first path segment")
    if dslash != -1:
        raise IRIError("An IRI path is not allowed to start with //")
    segments = path.split("/")
    for idx, seg in enumerate(segments):
        if idx > 0:
            out.append("/")
        seg_out: list[str] = []
        allowed = _is_path_char if not (idx == 0 and first_seg_no_colon) else (
            lambda c: _is_iunreserved_or_sub_delims(c) or c == "@"
        )
        _consume_component(seg, allowed, seg_out)
        rendered = "".join(seg_out)
        _validate_bidi_component(rendered)
        out.append(rendered)


def parse_ref(s: str, nfc: bool = False) -> ParsedRef:
    """Parse and validate an IRI reference (RFC 3987 ``IRI-reference``).

    Returns the rendered IRI (identical to the input except that lax ASCII
    characters are percent-encoded) plus component end positions.  Raises
    :class:`IRIError` on invalid input.  With ``nfc=True`` the input is
    NFC-normalized first (ref iri/iri.go:105-114).
    """
    if nfc:
        s = unicodedata.normalize("NFC", s)

    fast = _fast_parse(s)
    if fast is not None:
        return fast

    out: list[str] = []

    # fragment / query are the outermost delimiters
    body = s
    fragment = None
    h = body.find("#")
    if h != -1:
        fragment = body[h + 1 :]
        body = body[:h]
    query = None
    q = body.find("?")
    if q != -1:
        query = body[q + 1 :]
        body = body[:q]

    scheme = None
    rest = body
    if body[:1] == ":":
        raise IRIError("No scheme found in an absolute IRI")
    colon = body.find(":")
    if colon > 0 and _SCHEME_RE.match(body[:colon]):
        # possible scheme — but only if the colon appears before any '/',
        # otherwise it is part of a path segment
        slash = body.find("/")
        if slash == -1 or colon < slash:
            scheme = body[:colon]
            rest = body[colon + 1 :]

    has_authority = rest.startswith("//")
    authority = None
    path = rest
    if has_authority:
        authority, path = _split_at(rest[2:], "/")

    first_seg_no_colon = scheme is None and not has_authority and not path.startswith("/")

    # render + validate
    if scheme is not None:
        out.append(scheme)
        out.append(":")
    scheme_end = len("".join(out))

    if has_authority:
        out.append("//")
        if authority:
            _render_authority(authority, out)
    authority_end = len("".join(out))

    _render_path(path, has_authority, first_seg_no_colon, out)
    path_end = len("".join(out))

    if query is not None:
        out.append("?")
        qout: list[str] = []
        _consume_component(query, _is_query_char, qout)
        rendered_q = "".join(qout)
        _validate_bidi_component(rendered_q)
        out.append(rendered_q)
    query_end = len("".join(out))

    if fragment is not None:
        out.append("#")
        fout: list[str] = []
        _consume_component(fragment, _is_fragment_char, fout)
        rendered_f = "".join(fout)
        _validate_bidi_component(rendered_f)
        out.append(rendered_f)

    return ParsedRef("".join(out), Positions(scheme_end, authority_end, path_end, query_end))


def parse_iri(s: str, nfc: bool = False) -> ParsedRef:
    """Parse an absolute IRI; rejects relative references (ref iri/iri.go:414-438)."""
    ref = parse_ref(s, nfc=nfc)
    if ref.pos.scheme_end == 0:
        raise IRIError("No scheme found in an absolute IRI")
    return ref


# ---------------------------------------------------------------------------
# Component access (ref iri/iri.go:333-382)
# ---------------------------------------------------------------------------


class Components(NamedTuple):
    scheme: str | None
    authority: str | None
    path: str
    query: str | None
    fragment: str | None
    is_absolute: bool


def components(ref: ParsedRef) -> Components:
    s, p = ref.iri, ref.pos
    scheme = s[: p.scheme_end - 1] if p.scheme_end else None
    authority = None
    if p.authority_end > p.scheme_end:
        a = s[p.scheme_end : p.authority_end]
        authority = a[2:] if a.startswith("//") else a
    path = s[p.authority_end : p.path_end]
    query = s[p.path_end + 1 : p.query_end] if p.query_end > p.path_end else None
    fragment = s[p.query_end + 1 :] if len(s) > p.query_end else None
    return Components(scheme, authority, path, query, fragment, p.scheme_end != 0)


# ---------------------------------------------------------------------------
# Dot-segment removal & path merge (RFC 3986 §5.2.3/5.2.4; ref iri/path.go)
# ---------------------------------------------------------------------------


def remove_dot_segments(path: str) -> str:
    if not path:
        return path
    output: list[str] = []
    s = path
    while s:
        if s.startswith("../"):
            s = s[3:]
        elif s.startswith("./"):
            s = s[2:]
        elif s.startswith("/./"):
            s = "/" + s[3:]
        elif s == "/.":
            s = "/"
        elif s.startswith("/../") or s == "/..":
            s = "/" + (s[4:] if len(s) > 3 else "")
            if output:
                last = output.pop()
                if not output and not last.startswith("/"):
                    s = s[1:]
        elif s in (".", ".."):
            s = ""
        else:
            # move first segment (incl. any leading '/') to output
            if s.startswith("/"):
                nxt = s.find("/", 1)
            else:
                nxt = s.find("/")
            if nxt == -1:
                output.append(s)
                s = ""
            else:
                output.append(s[:nxt])
                s = s[nxt:]
    return "".join(output)


def _merge_paths(base_path: str, rel_path: str) -> str:
    slash = base_path.rfind("/")
    merged = base_path[: slash + 1] + rel_path if slash != -1 else rel_path
    return remove_dot_segments(merged)


# ---------------------------------------------------------------------------
# Reference resolution (RFC 3986 §5.2; ref iri/resolve.go)
# ---------------------------------------------------------------------------


def _deconstruct(ref: str):
    """Split a reference into (scheme, authority, path, query, fragment,
    has_authority, has_query, has_fragment) without validation."""
    fragment = ""
    has_fragment = False
    h = ref.find("#")
    if h != -1:
        has_fragment = True
        fragment = ref[h + 1 :]
        ref = ref[:h]
    query = ""
    has_query = False
    q = ref.find("?")
    if q != -1:
        has_query = True
        query = ref[q + 1 :]
        ref = ref[:q]

    scheme = ""
    colon = ref.find(":")
    if colon > 0 and _SCHEME_RE.match(ref[:colon]):
        scheme = ref[:colon]
        ref = ref[colon + 1 :]

    authority = ""
    has_authority = False
    if ref.startswith("//"):
        has_authority = True
        ref = ref[2:]
        end = ref.find("/")
        if end == -1:
            authority, ref = ref, ""
        else:
            authority, ref = ref[:end], ref[end:]
    return scheme, authority, ref, query, fragment, has_authority, has_query, has_fragment


def resolve(base: str | ParsedRef, rel: str, nfc: bool = True) -> ParsedRef:
    """Resolve *rel* against *base* per RFC 3986 §5.2 (ref iri/iri.go:174-202).

    The relative reference is NFC-normalized and validated first; the
    ambiguous relative form ``a:b`` (colon in first path segment) is rejected.
    """
    bref = base if isinstance(base, ParsedRef) else parse_ref(base)
    if nfc:
        rel = unicodedata.normalize("NFC", rel)

    # validate the relative reference standalone; parse_ref rejects the
    # ambiguous colon-in-first-segment form (e.g. "1:b") by itself
    parse_ref(rel)

    r_scheme, r_auth, r_path, r_query, r_frag, r_has_auth, r_has_q, r_has_f = _deconstruct(rel)

    if r_scheme:
        t = (r_scheme, r_auth, remove_dot_segments(r_path), r_query, r_frag,
             r_has_auth, r_has_q, r_has_f)
        return _recompose(*t)

    bc = components(bref)
    b_scheme = bc.scheme or ""
    b_auth = bc.authority or ""
    b_has_auth = bc.authority is not None
    b_path = bc.path
    b_query = bc.query or ""
    b_has_q = bc.query is not None

    if r_has_auth:
        t_auth, t_has_auth = r_auth, True
        t_path = remove_dot_segments(r_path)
        t_query, t_has_q = r_query, r_has_q
    else:
        t_auth, t_has_auth = b_auth, b_has_auth
        if r_path:
            if r_path.startswith("/"):
                t_path = remove_dot_segments(r_path)
            else:
                merge_base = b_path if b_path or not b_has_auth else "/"
                t_path = _merge_paths(merge_base, r_path)
            t_query, t_has_q = r_query, r_has_q
        else:
            t_path = b_path
            if r_has_q:
                t_query, t_has_q = r_query, True
            else:
                t_query, t_has_q = b_query, b_has_q

    return _recompose(b_scheme, t_auth, t_path, t_query, r_frag, t_has_auth, t_has_q, r_has_f)


def _recompose(scheme, authority, path, query, fragment,
               has_authority, has_query, has_fragment) -> ParsedRef:
    out: list[str] = []
    if scheme:
        out.append(scheme + ":")
    scheme_end = len(out[0]) if out else 0
    if has_authority:
        out.append("//" + authority)
    authority_end = sum(map(len, out))
    out.append(path)
    path_end = sum(map(len, out))
    if has_query:
        out.append("?" + query)
    query_end = sum(map(len, out))
    if has_fragment:
        out.append("#" + fragment)
    return ParsedRef("".join(out), Positions(scheme_end, authority_end, path_end, query_end))


# ---------------------------------------------------------------------------
# IDNA helpers — lenient punycode, matching x/net/idna's default profile
# ---------------------------------------------------------------------------


class _IdnaError(ValueError):
    pass


def _label_to_ascii(label: str) -> str:
    if label.isascii():
        return label
    try:
        return "xn--" + label.encode("punycode").decode("ascii")
    except UnicodeError:
        raise _IdnaError(label) from None


def _label_to_unicode(label: str) -> str:
    if label.startswith("xn--"):
        try:
            return label[4:].encode("ascii").decode("punycode")
        except (UnicodeError, ValueError):
            raise _IdnaError(label) from None
    return label


def _host_to_ascii(host: str) -> str:
    try:
        return ".".join(_label_to_ascii(l) for l in host.split("."))
    except _IdnaError:
        return host


def _host_idna_roundtrip(host: str) -> str:
    """ToASCII → ToUnicode with WHOLE-HOST fallback, matching the
    reference (iri/autority.go:256-271: either conversion failing keeps
    the lowercased host unchanged — per-label salvage would diverge on
    hosts mixing valid and invalid punycode labels)."""
    try:
        ascii_host = ".".join(_label_to_ascii(l) for l in host.split("."))
        return ".".join(_label_to_unicode(l)
                        for l in ascii_host.split("."))
    except _IdnaError:
        return host


# ---------------------------------------------------------------------------
# Normalization (RFC 3986 §6.2.2/§6.2.3; ref iri/iri.go:276-330)
# ---------------------------------------------------------------------------

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}

# Already-normalized fast path: lowercase scheme+host, no userinfo/port/%,
# no dot segments, non-empty path, safe ASCII chars only.
_FAST_NORMALIZED = re.compile(
    r"^[a-z][a-z0-9+.\-]*://"
    r"[a-z0-9\-]+(?:\.[a-z0-9\-]+)*"
    r"/[A-Za-z0-9_.~!$&'()*+,;=:@/\-]*"
    r"(?:\?[A-Za-z0-9_.~!$&'()*+,;=:@/?\-]*)?"
    r"(?:#[A-Za-z0-9_.~!$&'()*+,;=:@/?\-]*)?$"
)
_DOT_SEG_RE = re.compile(r"/\.\.?(?:/|$)")

_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _normalize_pct(s: str) -> str:
    """Decode %XX only when it encodes an unreserved char (RFC 3986 §6.2.2.2)."""

    def repl(m: re.Match) -> str:
        c = chr(int(m.group(1), 16))
        return c if _is_unreserved(c) else m.group(0)

    return _PCT_RE.sub(repl, s)


def normalize(s: str | ParsedRef) -> str:
    """Syntax-based + scheme-based normalization → canonical IRI string.

    Lowercases scheme and host (with lenient-IDNA round-trip and the IDNA2003
    ß→ss compatibility mapping), decodes percent-encoded unreserved chars,
    removes dot segments, adds ``/`` for an empty path when an authority is
    present, drops default ports, and NFC-normalizes the result.
    """
    if (isinstance(s, str) and _FAST_NORMALIZED.match(s)
            and not _DOT_SEG_RE.search(s) and "xn--" not in s):
        # already canonical — the common case on real crawls.  Punycode
        # (xn--) hosts are excluded: canonical form is the decoded Unicode
        # label (reference normalizes "xn--fa-hia.de" → "fass.de")
        return s

    ref = s if isinstance(s, ParsedRef) else parse_ref(s)
    if not ref.iri:
        return ""
    c = components(ref)

    scheme = c.scheme.lower() if c.scheme is not None else None
    userinfo = host = port = ""
    if c.authority is not None:
        userinfo, host, port = split_authority(c.authority)
        host = host.lower()
        if not host.startswith("["):
            # IDNA round-trip to canonical unicode; ß→ss per IDNA2003 nameprep
            host = _host_idna_roundtrip(host).replace("ß", "ss")
        if port and scheme and _DEFAULT_PORTS.get(scheme) == port:
            port = ""

    userinfo = _normalize_pct(userinfo)
    host = _normalize_pct(host)
    path = _normalize_pct(c.path)
    query = _normalize_pct(c.query) if c.query is not None else None
    fragment = _normalize_pct(c.fragment) if c.fragment is not None else None

    path = remove_dot_segments(path)
    if c.authority is not None and path == "":
        path = "/"

    out: list[str] = []
    if scheme is not None:
        out.append(scheme + ":")
    if c.authority is not None:
        out.append("//")
        if userinfo:
            out.append(userinfo + "@")
        out.append(host)
        if port:
            out.append(":" + port)
    out.append(path)
    if query is not None:
        out.append("?" + query)
    if fragment is not None:
        out.append("#" + fragment)
    return unicodedata.normalize("NFC", "".join(out))


# ---------------------------------------------------------------------------
# IRI ↔ URI (RFC 3987 §3.1/§3.2; ref iri/iri.go:125-269)
# ---------------------------------------------------------------------------


def _pct_encode_non_ascii(s: str) -> str:
    return "".join(c if c.isascii() else _pct_encode_char(c) for c in s)


def iri_to_uri(s: str | ParsedRef) -> str:
    """Map an IRI to a URI: NFC per component, %-encode non-ASCII, IDNA host."""
    ref = s if isinstance(s, ParsedRef) else parse_ref(s)
    c = components(ref)
    nfc = lambda x: unicodedata.normalize("NFC", x)  # noqa: E731

    out: list[str] = []
    if c.scheme is not None:
        out.append(c.scheme + ":")
    if c.authority is not None:
        out.append("//")
        userinfo, host, port = split_authority(c.authority)
        if userinfo:
            out.append(_pct_encode_non_ascii(nfc(userinfo)) + "@")
        if host and not host.startswith("["):
            ascii_host = _host_to_ascii(nfc(host))
            out.append(ascii_host if ascii_host.isascii() else _pct_encode_non_ascii(ascii_host))
        else:
            out.append(host)
        if port:
            out.append(":" + port)
    out.append(_pct_encode_non_ascii(nfc(c.path)))
    if c.query is not None:
        out.append("?" + _pct_encode_non_ascii(nfc(c.query)))
    if c.fragment is not None:
        out.append("#" + _pct_encode_non_ascii(nfc(c.fragment)))
    return "".join(out)


def uri_to_iri(s: str) -> ParsedRef:
    """Map a URI to an IRI (RFC 3987 §3.2): decode %-sequences that form valid
    UTF-8 and contain no forbidden bidi chars; keep everything else encoded."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        if s[i] != "%":
            out.append(s[i])
            i += 1
            continue
        # collect the maximal contiguous run of valid %XX octets
        start = i
        raw = bytearray()
        while i < n and s[i] == "%":
            if i + 2 >= n or s[i + 1] not in _HEX or s[i + 2] not in _HEX:
                break  # incomplete/invalid — stop the run here
            raw.append(int(s[i + 1 : i + 3], 16))
            i += 3
        if i == start:
            # invalid sequence: keep the raw '%' (final re-parse will reject)
            out.append(s[start])
            i += 1
            continue
        try:
            decoded = raw.decode("utf-8")
        except UnicodeDecodeError:
            decoded = None
        if decoded is not None and not any(c in _FORBIDDEN_BIDI for c in decoded):
            out.append(decoded)
        else:
            out.append(s[start:i])
    return parse_ref("".join(out), nfc=True)


# ---------------------------------------------------------------------------
# Relativization (inverse of resolve; ref iri/relativize.go)
# ---------------------------------------------------------------------------


def relativize(base: str | ParsedRef, target: str | ParsedRef) -> str:
    """Compute the shortest relative reference from *base* to *target*.

    Raises IRIError when the target contains dot segments (they would not
    survive a resolve round-trip; ref iri/iri.go:495-499).
    """
    bref = base if isinstance(base, ParsedRef) else parse_iri(base)
    tref = target if isinstance(target, ParsedRef) else parse_iri(target)
    tc = components(tref)
    bc = components(bref)

    for seg in tc.path.split("/"):
        if seg in (".", ".."):
            raise IRIError("cannot relativize an IRI containing dot segments")

    frag = ("#" + tc.fragment) if tc.fragment is not None else ""

    if tc.scheme != bc.scheme:
        return tref.iri
    if tc.authority != bc.authority:
        if tc.authority is None:
            return tref.iri
        rest = tc.path + (("?" + tc.query) if tc.query is not None else "") + frag
        return "//" + tc.authority + rest

    if tc.path == bc.path:
        if tc.query != bc.query:
            if tc.query is not None:
                return "?" + tc.query + frag
            # same path, target drops the query → re-state last segment
            last = tc.path.rsplit("/", 1)[-1]
            if last:
                return last + frag
            return ("." if tc.path.endswith("/") else tref.iri) + frag
        return frag

    if tc.path == "":
        if tc.authority is not None:
            return "//" + tc.authority + frag
        return tref.iri  # e.g. "mailto:" — nothing shorter round-trips

    base_segs = bc.path.split("/")
    tgt_segs = tc.path.split("/")
    if bc.path == "" and bc.authority is not None and tc.path.startswith("/"):
        # base path is empty: it merges as "/" on resolve, so the relative
        # form is simply the target path without its leading slash
        q0 = ("?" + tc.query) if tc.query is not None else ""
        return tc.path[1:] + q0 + frag
    # common directory prefix (exclude the final segment of base)
    i = 0
    while (
        i < len(base_segs) - 1
        and i < len(tgt_segs) - 1
        and base_segs[i] == tgt_segs[i]
    ):
        i += 1
    ups = len(base_segs) - 1 - i
    rel_segs = [".."] * ups + tgt_segs[i:]
    rel = "/".join(rel_segs)
    if not rel:
        rel = "."
    # a relative path must not start with a segment containing ':' (it
    # would parse as a scheme on resolution)
    first = rel_segs[0] if rel_segs else ""
    if ":" in first:
        rel = "./" + rel
    q = ("?" + tc.query) if tc.query is not None else ""
    result = rel + q + frag
    # self-check: shortest-form computation must round-trip; pathological
    # paths (e.g. empty segments like "http://a//") fall back to the full
    # target, which is always a correct (if unshortened) relative form
    try:
        if resolve(bref, result, nfc=False).iri != tref.iri:
            return tref.iri
    except IRIError:
        return tref.iri
    return result
