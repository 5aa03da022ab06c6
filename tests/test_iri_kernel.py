"""Pure-Python conformance tests for the IRI kernel.

Golden vectors come from the reference's test suite (iri/iri_test.go):
RFC 3986 §5.4.1/§5.4.2 resolution examples, §6.2 normalization table,
RFC 3987 §3.1/§3.2 IRI↔URI conversions, and the relativization table.
"""

import pytest

from trident_spark.conformance import (  # noqa: F401 — re-exported for other tests
    ABNORMAL_RESOLUTION,
    FROM_URI_CASES,
    NORMAL_RESOLUTION,
    NORMALIZE_CASES,
    RELATIVIZE_CASES,
    RESOLVE_BASE as BASE,
    TO_URI_CASES,
)
from trident_spark.kernels import iri as K


VALID_REFS = [
    "http://example.com/p?q#f",
    "a:b/c",
    "a/b/c",
    "/a/b/c",
    "//example.com/path",
    "",
    "#fragment",
    "?query",
    "urn:isbn:0451450523",
    "http://例子.com/résumé",
    "a:b",
]

INVALID_REFS = [
    ("1http://example.com", "first path segment"),
    ("scheme:..//path", "not allowed to start with //"),
    ("http://example.com/%GG", "percent encoding"),
]

COMPONENT_CASES = [
    ("foo://example.com:8042/over/there?name=ferret#nose",
     "foo", "example.com:8042", "/over/there", "name=ferret", "nose", True),
    ("urn:example:animal:ferret:nose",
     "urn", None, "example:animal:ferret:nose", None, None, True),
]


@pytest.mark.parametrize("rel,expected", sorted(NORMAL_RESOLUTION.items()))
def test_resolve_normal(rel, expected):
    assert K.resolve(BASE, rel).iri == expected


@pytest.mark.parametrize("rel,expected", sorted(ABNORMAL_RESOLUTION.items()))
def test_resolve_abnormal(rel, expected):
    assert K.resolve(BASE, rel).iri == expected


def test_resolve_ambiguous_colon_errors():
    with pytest.raises(K.IRIError, match="first path segment"):
        K.resolve(BASE, "1:b")


@pytest.mark.parametrize("inp,expected", NORMALIZE_CASES)
def test_normalize(inp, expected):
    assert K.normalize(inp) == expected


def test_normalize_eszett():
    assert K.normalize("http://faß.de/") == "http://fass.de/"


@pytest.mark.parametrize("iri,expected", TO_URI_CASES)
def test_iri_to_uri(iri, expected):
    assert K.iri_to_uri(iri) == expected


@pytest.mark.parametrize("uri,expected,err", FROM_URI_CASES)
def test_uri_to_iri(uri, expected, err):
    if err:
        with pytest.raises(K.IRIError):
            K.uri_to_iri(uri)
    else:
        assert K.uri_to_iri(uri).iri == expected


@pytest.mark.parametrize("base,target,expected", RELATIVIZE_CASES)
def test_relativize(base, target, expected):
    got = K.relativize(base, target)
    assert got == expected, f"relativize({base!r}, {target!r}) = {got!r} != {expected!r}"
    # round-trip: resolving the result against base must yield the target
    assert K.resolve(base, got).iri == target


@pytest.mark.parametrize("base,target", [
    ("http://a/b/c", "http://a/b/./d"),
    ("http://a/b/c", "http://a/b/../d"),
])
def test_relativize_dot_segments_rejected(base, target):
    with pytest.raises(K.IRIError):
        K.relativize(base, target)


@pytest.mark.parametrize("ref", VALID_REFS)
def test_parse_valid(ref):
    assert K.parse_ref(ref).iri == ref


@pytest.mark.parametrize("ref,msg", INVALID_REFS)
def test_parse_invalid(ref, msg):
    with pytest.raises(K.IRIError, match=re_escape_partial(msg)):
        K.parse_ref(ref)


def re_escape_partial(s):
    import re
    return re.escape(s)


@pytest.mark.parametrize(
    "iri,scheme,authority,path,query,fragment,absolute", COMPONENT_CASES
)
def test_components(iri, scheme, authority, path, query, fragment, absolute):
    c = K.components(K.parse_ref(iri))
    assert c == (scheme, authority, path, query, fragment, absolute)


def test_lax_ascii_percent_encoded():
    # RFC 3987 §3.1 MAY-rule: lenient parsing of certain ASCII chars
    ref = K.parse_ref("http://example.com/a b")
    assert ref.iri == "http://example.com/a%20b"


def test_bidi_mixed_rejected():
    with pytest.raises(K.IRIError):
        K.parse_ref("http://example.com/aב")  # latin + hebrew in one segment


def test_forbidden_bidi_formatting_rejected():
    with pytest.raises(K.IRIError):
        K.parse_ref("http://example.com/a\u202Eb")


def test_parse_iri_rejects_relative():
    with pytest.raises(K.IRIError):
        K.parse_iri("/only/a/path")


def test_remove_dot_segments():
    assert K.remove_dot_segments("/a/b/c/./../../g") == "/a/g"
    assert K.remove_dot_segments("mid/content=5/../6") == "mid/6"

